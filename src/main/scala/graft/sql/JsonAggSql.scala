package graft.sql

/** SQL/JSON constructor surface (ref: SqlStdOperatorTable JSON_OBJECT
  * :1680, JSON_ARRAYAGG :1724; runtime/JsonFunctions.java; agg.iq:3250-
  * 3400, sub-query.iq:4542):
  *
  *  - `JSON_OBJECT('k': v, ... [NULL|ABSENT ON NULL])` (colon or
  *    KEY k VALUE v form) → `to_json(named_struct(...))` — written key
  *    order, booleans/numbers/strings rendered as JSON scalars; the
  *    NULL-ON-NULL default keeps null-valued keys
  *    (ignoreNullFields=false).
  *  - `JSON_ARRAYAGG(x [ORDER BY x [DESC]] [NULL ON NULL])` →
  *    `to_json(collect_list(x))` with sort_array for the same-expression
  *    ORDER BY and a struct-envelope collect when nulls must be kept
  *    (the default is ABSENT ON NULL, which collect_list's null-dropping
  *    matches exactly). A raw-JSON element (the inner expression is
  *    itself a to_json(...) or carries FORMAT JSON) concatenates
  *    unquoted: `concat('[', concat_ws(',', collect_list(x)), ']')`.
  *
  *  - `JSON_OBJECTAGG(k: v [NULL|ABSENT ON NULL])` → a hash-ordered
  *    object rendering: the reference accumulates into a plain
  *    `java.util.HashMap` (runtime/JsonFunctions.java:432), so its key
  *    order IS deterministic — bucket `(h ^ h>>>16) & 15` of the key's
  *    `String.hashCode` ascending (default capacity 16; the corpus
  *    objects stay far below the 12-entry resize threshold), insertion
  *    order within a bucket. The same order is applied to JSON_OBJECT's
  *    literal keys under the conformance flag (`calciteHashOrder`);
  *    the default keeps written order, which DuckDB's oracle matches.
  *
  * `FORMAT JSON` on a JSON_OBJECT member stays unsupported. */
object JsonAggSql {

  /** Conformance-harness toggle (CorpusSpec only): render JSON_OBJECT's
    * literal keys in the reference's HashMap iteration order. */
  @volatile private[graft] var calciteHashOrder = false

  def apply(sql: String): String =
    rewriteArrayAgg(rewriteObjectAgg(rewriteObject(sql)))

  /** Java HashMap(16) bucket of a key string. */
  private def jbucket(s: String): Int = { val h = s.hashCode; (h ^ (h >>> 16)) & 15 }

  /** Reorder pairs into HashMap(16) iteration order: bucket ascending,
    * insertion order within a bucket (Java 8+ chains append). */
  private[sql] def hashOrder[T](pairs: Seq[(String, T)]): Seq[T] =
    (0 until 16).flatMap(b => pairs.collect { case (k, v) if jbucket(k) == b => v })

  /** SQL-side HashMap(16) bucket of a dynamic key expression: Java
    * String.hashCode via a 32-bit-wrapped fold over the code points,
    * then `(h ^ h>>>16) & 15`. Builtins only — stays in codegen. */
  private def bucketSql(k: String): String = {
    val h32 = s"aggregate(transform(sequence(1, length($k)), " +
      s"__ci -> CAST(ascii(substr($k, __ci, 1)) AS BIGINT)), " +
      s"CAST(0 AS BIGINT), (__h, __c) -> pmod(31 * __h + __c, 4294967296))"
    s"(CASE WHEN length($k) = 0 THEN 0 ELSE CAST(($h32 ^ shiftright($h32, 16)) & 15 AS INT) END)"
  }

  /** Render any value as its JSON scalar text (numbers bare, strings
    * quoted, null → 'null') through a to_json envelope. */
  private def jsonScalar(v: String): String =
    s"coalesce(nullif(regexp_extract(to_json(named_struct('v', $v), " +
      "map('ignoreNullFields', 'false')), " +
      "'^\\\\{\"v\":(.*)\\\\}" + "$', 1), ''), 'null')"

  /** `JSON_OBJECTAGG(k: v [NULL|ABSENT ON NULL])` (ref:
    * SqlStdOperatorTable JSON_OBJECTAGG; agg.iq:3256,3356): aggregate to
    * the reference's HashMap-ordered rendering. NULL ON NULL is the
    * standard (and reference) default. */
  private val objectAggRe = "(?i)\\bJSON_OBJECTAGG\\s*\\(".r
  private val onNullRe = "(?is)\\s+(NULL|ABSENT)\\s+ON\\s+NULL\\s*$".r
  private val keyValueRe = "(?is)^\\s*KEY\\s+(.*?)\\s+VALUE\\s+(.*)$".r

  private[sql] def rewriteObjectAgg(sql: String): String =
    SqlText.spliceEach(sql, objectAggRe) { site =>
      val close = site.close
      if (close < 0) None
      else {
        var innerOrig = site.sql.substring(site.end, close)
        var innerMask = site.m.substring(site.end, close)
        val opt = onNullRe.findFirstMatchIn(innerMask)
        val keepNulls = opt.forall(_.group(1).equalsIgnoreCase("NULL"))
        opt.foreach { o =>
          innerOrig = innerOrig.substring(0, o.start)
          innerMask = innerMask.substring(0, o.start)
        }
        val colon = topLevelColon(innerMask)
        val kv =
          if (colon >= 0)
            Some((innerOrig.substring(0, colon).trim, innerOrig.substring(colon + 1).trim))
          else keyValueRe.findFirstMatchIn(innerOrig).map(km => (km.group(1).trim, km.group(2).trim))
        kv.map { case (k, v) =>
          val entry = s"named_struct('b', ${bucketSql(s"($k)")}, 'k', ($k), 'v', ($v))"
          val collected =
            if (keepNulls) s"collect_list($entry)"
            else s"collect_list(CASE WHEN ($v) IS NOT NULL THEN $entry END)"
          // stable (bucket, arrival) sort: attach the collect_list index,
          // then a two-key comparator; concat_ws drops null renders, so an
          // all-filtered group degrades to '{}' without a guard
          val indexed = s"zip_with($collected, sequence(1, size($collected)), " +
            s"(__e, __i) -> named_struct('b', __e.b, 'i', __i, 'k', __e.k, 'v', __e.v))"
          val sorted = s"array_sort($indexed, (x, y) -> CASE " +
            s"WHEN x.b < y.b THEN -1 WHEN x.b > y.b THEN 1 " +
            s"WHEN x.i < y.i THEN -1 WHEN x.i > y.i THEN 1 ELSE 0 END)"
          val rendered = s"transform($sorted, __e -> " +
            s"""concat('"', __e.k, '":', ${jsonScalar("__e.v")}))"""
          SqlText.Splice(site.start, close + 1, s"concat('{', concat_ws(',', $rendered), '}')")
        }
      }
    }

  /** First depth-0 `:` in the masked item, or -1. */
  private def topLevelColon(masked: String): Int =
    SqlText.topLevelMatches(masked, ":".r).nextOption().map(_.start).getOrElse(-1)

  private val objectRe = "(?i)\\bJSON_OBJECT\\s*\\(".r
  private val formatJsonRe = "(?is)\\s+FORMAT\\s+JSON\\s*$".r
  private val jsonCtorRe = "(?is)^\\s*JSON_(OBJECTAGG|ARRAYAGG|OBJECT|ARRAY)\\s*\\(.*".r

  private[sql] def rewriteObject(sql: String): String =
    SqlText.spliceEach(sql, objectRe) { site =>
      val close = site.close
      if (close < 0) None
      else {
        var innerOrig = site.sql.substring(site.end, close)
        var innerMask = site.m.substring(site.end, close)
        // trailing ON NULL option rides the LAST member's text
        val opt = onNullRe.findFirstMatchIn(innerMask)
        val keepNulls = opt.forall(_.group(1).equalsIgnoreCase("NULL"))
        opt.foreach { o =>
          innerOrig = innerOrig.substring(0, o.start)
          innerMask = innerMask.substring(0, o.start)
        }
        val itemsM = SqlText.splitTop(innerMask)
        var cursor = 0
        val pairs = itemsM.map { im =>
          val io = innerOrig.substring(cursor, cursor + im.length)
          cursor += im.length + 1
          val colon = topLevelColon(im)
          if (colon >= 0)
            Some((io.substring(0, colon).trim, io.substring(colon + 1).trim,
              im.substring(colon + 1).trim))
          else keyValueRe.findFirstMatchIn(io)
            .map(km => (km.group(1).trim, km.group(2).trim,
              im.substring(km.start(2), km.end(2)).trim))
        }
        // a RAW member embeds pre-rendered JSON unquoted: an explicit
        // FORMAT JSON tag, or a value that is itself a JSON constructor
        // (the reference's JSON-typed returns embed raw — agg.iq:3304)
        def raw(vm: String) = formatJsonRe.findFirstIn(vm).isDefined || jsonCtorRe.matches(vm)
        if (pairs.isEmpty || !pairs.forall(_.isDefined)) None
        else {
          // conformance: the reference renders JSON_OBJECT through the
          // same HashMap as objectagg — literal keys reorder statically
          val flat = pairs.flatten
          val ordered =
            if (calciteHashOrder && flat.forall(_._1.matches("'[^']*'")))
              hashOrder(flat.map(p => (p._1.substring(1, p._1.length - 1), p)))
            else flat
          val rep =
            if (flat.exists(p => raw(p._3))) {
              // concat device: raw members splice verbatim, scalar
              // members render through the to_json envelope; the nested
              // constructors in raw values lower on the next passes
              val members = ordered.map { case (k, v, vm) =>
                val keyPart =
                  if (k.matches("'[^']*'")) "'\"" + k.substring(1, k.length - 1) + "\":'"
                  else s"""concat('"', $k, '":')"""
                val vv = formatJsonRe.findFirstMatchIn(vm).map(f => v.substring(0, f.start)).getOrElse(v).trim
                val valPart = if (raw(vm)) s"($vv)" else jsonScalar(s"($vv)")
                if (keepNulls) s"concat($keyPart, coalesce($valPart, 'null'))"
                else s"(CASE WHEN ($vv) IS NOT NULL THEN concat($keyPart, $valPart) END)"
              }
              s"concat('{', concat_ws(',', ${members.mkString(", ")}), '}')"
            } else {
              val ns = ordered.map { case (k, v, _) => s"$k, ($v)" }.mkString(", ")
              s"to_json(named_struct($ns), map('ignoreNullFields', '${!keepNulls}'))"
            }
          Some(SqlText.Splice(site.start, close + 1, rep))
        }
      }
    }

  private val arrayAggRe = "(?i)\\bJSON_ARRAYAGG\\s*\\(".r
  private val aggOrderByRe = "(?is)\\s+ORDER\\s+BY\\s+(.+?)\\s*(DESC|ASC)?\\s*$".r
  private val toJsonRe = "(?is)^to_json\\s*\\(.*".r

  private[sql] def rewriteArrayAgg(sql: String): String =
    SqlText.spliceEach(sql, arrayAggRe) { site =>
      val close = site.close
      if (close < 0) None
      else {
        var io = site.sql.substring(site.end, close)
        var im = site.m.substring(site.end, close)
        def strip(reStr: String): Boolean = {
          val r = reStr.r.findFirstMatchIn(im)
          r.foreach { mm =>
            io = io.substring(0, mm.start) + io.substring(mm.end)
            im = im.substring(0, mm.start) + im.substring(mm.end)
          }
          r.isDefined
        }
        val keepNulls = strip("(?is)\\s+NULL\\s+ON\\s+NULL\\s*$")
        strip("(?is)\\s+ABSENT\\s+ON\\s+NULL\\s*$")
        val fmtJson = strip("(?is)\\s+FORMAT\\s+JSON\\s*$")
        val order = aggOrderByRe.findFirstMatchIn(im)
          .map(om => (io.substring(om.start(1), om.end(1)).trim,
            om.group(2) != null && om.group(2).equalsIgnoreCase("DESC"), om.start))
        order.foreach { case (_, _, at) => io = io.substring(0, at); im = im.substring(0, at) }
        val x = io.trim
        val rawJson = fmtJson || toJsonRe.matches(im.trim)
        val collected = order match {
          case Some((k, desc, _)) if k == x =>
            Some(s"sort_array(collect_list($x)${if (desc) ", false" else ""})")
          case Some(_) => None // independent sort key: no aggregate equivalent
          case None if keepNulls =>
            Some(s"transform(collect_list(named_struct('v', $x)), __jv -> __jv.v)")
          case None => Some(s"collect_list($x)")
        }
        collected.map { c =>
          SqlText.Splice(site.start, close + 1,
            if (rawJson) s"concat('[', concat_ws(',', $c), ']')" else s"to_json($c)")
        }
      }
    }
}

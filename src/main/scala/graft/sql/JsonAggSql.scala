package graft.sql

import SqlText.{closeOf, mask}

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
  private[sql] def rewriteObjectAgg(sql: String): String = {
    val masked = mask(sql)
    val re = "(?i)\\bJSON_OBJECTAGG\\s*\\(".r
    for (m <- re.findAllMatchIn(masked)) {
      val open = masked.indexOf('(', m.start)
      val close = closeOf(masked, open)
      if (close > 0) {
        var innerOrig = sql.substring(open + 1, close)
        var innerMask = masked.substring(open + 1, close)
        val opt = "(?is)\\s+(NULL|ABSENT)\\s+ON\\s+NULL\\s*$".r
          .findFirstMatchIn(innerMask)
        val keepNulls = opt.forall(_.group(1).equalsIgnoreCase("NULL"))
        opt.foreach { o =>
          innerOrig = innerOrig.substring(0, o.start)
          innerMask = innerMask.substring(0, o.start)
        }
        val colon = topColon(innerMask)
        val (k, v) =
          if (colon >= 0)
            (innerOrig.substring(0, colon).trim, innerOrig.substring(colon + 1).trim)
          else "(?is)^\\s*KEY\\s+(.*?)\\s+VALUE\\s+(.*)$".r.findFirstMatchIn(innerOrig)
            .map(km => (km.group(1).trim, km.group(2).trim)).getOrElse(return sql)
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
        val rep = s"concat('{', concat_ws(',', $rendered), '}')"
        return rewriteObjectAgg(sql.substring(0, m.start) + rep + sql.substring(close + 1))
      }
    }
    sql
  }

  /** First top-level `:` in the masked item (quotes/parens respected). */
  private def topColon(masked: String): Int = {
    var depth = 0
    var i = 0
    while (i < masked.length) {
      val c = masked.charAt(i)
      if (c == '(' || c == '[') depth += 1
      else if (c == ')' || c == ']') depth -= 1
      else if (c == ':' && depth == 0) return i
      i += 1
    }
    -1
  }

  private[sql] def rewriteObject(sql: String): String = {
    val masked = mask(sql)
    val re = "(?i)\\bJSON_OBJECT\\s*\\(".r
    for (m <- re.findAllMatchIn(masked)) {
      val open = masked.indexOf('(', m.start)
      val close = closeOf(masked, open)
      if (close > 0) {
        var innerOrig = sql.substring(open + 1, close)
        var innerMask = masked.substring(open + 1, close)
        locally {
          // trailing ON NULL option rides the LAST member's text
          val opt = "(?is)\\s+(NULL|ABSENT)\\s+ON\\s+NULL\\s*$".r
            .findFirstMatchIn(innerMask)
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
            val colon = topColon(im)
            if (colon >= 0)
              Some((io.substring(0, colon).trim, io.substring(colon + 1).trim,
                im.substring(colon + 1).trim))
            else "(?is)^\\s*KEY\\s+(.*?)\\s+VALUE\\s+(.*)$".r.findFirstMatchIn(io)
              .map(km => (km.group(1).trim, km.group(2).trim,
                im.substring(km.start(2), km.end(2)).trim))
          }
          // a RAW member embeds pre-rendered JSON unquoted: an explicit
          // FORMAT JSON tag, or a value that is itself a JSON constructor
          // (the reference's JSON-typed returns embed raw — agg.iq:3304)
          val fmtRe = "(?is)\\s+FORMAT\\s+JSON\\s*$".r
          def rawCtor(vm: String) =
            "(?is)^\\s*JSON_(OBJECTAGG|ARRAYAGG|OBJECT|ARRAY)\\s*\\(.*".r.matches(vm)
          if (pairs.forall(_.isDefined) && pairs.nonEmpty) {
            // conformance: the reference renders JSON_OBJECT through the
            // same HashMap as objectagg — literal keys reorder statically
            val flat = pairs.flatten
            val ordered =
              if (calciteHashOrder && flat.forall(_._1.matches("'[^']*'")))
                hashOrder(flat.map(p => (p._1.substring(1, p._1.length - 1), p)))
              else flat
            val hasRaw = flat.exists { case (_, _, vm) =>
              fmtRe.findFirstIn(vm).isDefined || rawCtor(vm) }
            val rep =
              if (hasRaw) {
                // concat device: raw members splice verbatim, scalar
                // members render through the to_json envelope; the nested
                // constructors in raw values lower on the next passes
                val members = ordered.map { case (k, v, vm) =>
                  val keyPart =
                    if (k.matches("'[^']*'")) "'\"" + k.substring(1, k.length - 1) + "\":'"
                    else s"""concat('"', $k, '":')"""
                  val fm = fmtRe.findFirstMatchIn(vm)
                  val vv = fm.map(f => v.substring(0, f.start)).getOrElse(v).trim
                  val raw = fm.isDefined || rawCtor(vm)
                  val valPart = if (raw) s"($vv)" else jsonScalar(s"($vv)")
                  if (keepNulls) s"concat($keyPart, coalesce($valPart, 'null'))"
                  else s"(CASE WHEN ($vv) IS NOT NULL THEN concat($keyPart, $valPart) END)"
                }
                s"concat('{', concat_ws(',', ${members.mkString(", ")}), '}')"
              } else {
                val ns = ordered.map { case (k, v, _) => s"$k, ($v)" }.mkString(", ")
                s"to_json(named_struct($ns), map('ignoreNullFields', '${!keepNulls}'))"
              }
            return rewriteObject(sql.substring(0, m.start) + rep + sql.substring(close + 1))
          }
        }
      }
    }
    sql
  }

  private[sql] def rewriteArrayAgg(sql: String): String = {
    val masked = mask(sql)
    val re = "(?i)\\bJSON_ARRAYAGG\\s*\\(".r
    for (m <- re.findAllMatchIn(masked)) {
      val open = masked.indexOf('(', m.start)
      val close = closeOf(masked, open)
      if (close > 0) {
        var io = sql.substring(open + 1, close)
        var im = masked.substring(open + 1, close)
        def strip(reStr: String): Option[String] = {
          val r = reStr.r.findFirstMatchIn(im)
          r.foreach { mm =>
            io = io.substring(0, mm.start) + io.substring(mm.end)
            im = im.substring(0, mm.start) + im.substring(mm.end)
          }
          r.map(_.matched)
        }
        val keepNulls = strip("(?is)\\s+NULL\\s+ON\\s+NULL\\s*$").isDefined
        strip("(?is)\\s+ABSENT\\s+ON\\s+NULL\\s*$")
        val fmtJson = strip("(?is)\\s+FORMAT\\s+JSON\\s*$").isDefined
        val order = "(?is)\\s+ORDER\\s+BY\\s+(.+?)\\s*(DESC|ASC)?\\s*$".r.findFirstMatchIn(im)
          .map(om => (io.substring(om.start(1), om.end(1)).trim,
            om.group(2) != null && om.group(2).equalsIgnoreCase("DESC"), om.start))
        order.foreach { case (_, _, at) => io = io.substring(0, at); im = im.substring(0, at) }
        val x = io.trim
        val rawJson = fmtJson || "(?is)^to_json\\s*\\(.*".r.matches(im.trim)
        val collected = order match {
          case Some((k, desc, _)) if k == x =>
            s"sort_array(collect_list($x)${if (desc) ", false" else ""})"
          case Some(_) => return sql // independent sort key: no aggregate equivalent
          case None if keepNulls =>
            s"transform(collect_list(named_struct('v', $x)), __jv -> __jv.v)"
          case None => s"collect_list($x)"
        }
        val rep =
          if (rawJson) s"concat('[', concat_ws(',', $collected), ']')"
          else s"to_json($collected)"
        return rewriteArrayAgg(sql.substring(0, m.start) + rep + sql.substring(close + 1))
      }
    }
    sql
  }
}

package graft.sql

import SqlText.{closeOf, mask, splitTop, topLevelIndex, topLevelMatches}

/** SQL:2016 window frame EXCLUSION (`ROWS ... EXCLUDE CURRENT ROW /
  * GROUP / TIES / NO OTHERS` — winagg.iq:1054, Postgres-verified in the
  * reference): Spark's grammar has no EXCLUDE clause, so qualifying
  * statements lower to a position self-join:
  *
  *   WITH b AS (SELECT *, row_number() OVER (same part/order) AS __rn)
  *   SELECT o.<plain items>,
  *          agg(CASE WHEN <rn frame> AND <exclusion> THEN j.<arg> END)
  *   FROM b o JOIN b j ON <partition equal>  GROUP BY o.__rn, <plain>
  *
  * The exclusion predicates: CURRENT ROW → j.__rn <> o.__rn; GROUP →
  * NOT <order keys null-safe equal>; TIES → keep current, drop other
  * peers; NO OTHERS → just drop the clause. EVERY over-call in the
  * statement (excluded or not) lowers uniformly so one join feeds all.
  *
  * Scope: plain `SELECT items FROM rel [ORDER BY ...]` statements whose
  * window calls are ROWS-framed and share one PARTITION/ORDER spec —
  * beyond that the statement passes through untouched. Scale paths
  * (round 9 retired the mixed-frame quadratic):
  *  1. all EXCLUDE calls unbounded sum/count → difference-of-windows,
  *     O(n), no join;
  *  2. all frames bounded → explode-generated frame equi-join,
  *     O(n·frame), hash-joined;
  *  3. MIXED → bounded EXCLUDE calls join as in (2), every other call
  *     (unbounded sum/count EXCLUDE as (1), NO OTHERS verbatim) rides
  *     the base CTE as a window column;
  *  4. the |partition|² self-join remains ONLY for min/max-class or
  *     half-bounded (n PRECEDING..UNBOUNDED FOLLOWING) aggregates over
  *     EXCLUDE frames, where no windowed difference exists.
  * The window-operator path (no EXCLUDE) is never affected.
  */
object ExcludeFrameSql {

  private val exRe = "(?is)\\bEXCLUDE\\s+(CURRENT\\s+ROW|GROUP|TIES|NO\\s+OTHERS)".r
  private val selectRe = "(?is)^\\s*SELECT\\s".r
  private val clauseRe = "(?is)\\b(WHERE|GROUP\\s+BY|HAVING|QUALIFY|WINDOW)\\b".r
  private val orderByRe = "(?is)\\bORDER\\s+BY\\s".r
  private val overRe = "(?is)\\bOVER\\s*\\(".r
  private val trailingIdentRe = "(?is)([A-Za-z_]\\w*)\\s*$".r
  private val partitionByRe = "(?is)\\bPARTITION\\s+BY\\s+(.*?)(?=\\bORDER\\b|\\bROWS\\b|\\bRANGE\\b|$)".r
  private val windowOrderRe = "(?is)\\bORDER\\s+BY\\s+(.*?)(?=\\bROWS\\b|\\bRANGE\\b|$)".r
  private val rowsFrameRe = "(?is)\\bROWS\\s+(.*?)(?=\\bEXCLUDE\\b|$)".r
  private val betweenAndRe = "(?i)^BETWEEN (.*?) AND (.*)$".r
  private val precedingFollowingRe = "(?i)^(\\d+) (PRECEDING|FOLLOWING)$".r
  private val asRe = "(?is)\\s+as\\s+([A-Za-z_`]\\w*|`[^`]*`)\\s*$".r
  private val bareIdentRe = "^[A-Za-z_]\\w*$".r
  private val quotedIdentRe = "^`[^`]*`$".r
  private val rangeRe = "(?is)\\bRANGE\\b".r

  def rewrite(sql: String): String = {
    val masked0 = mask(sql)
    if (exRe.findFirstIn(masked0).isEmpty) return sql
    // EXCLUDE NO OTHERS alone is the default semantics — drop in place,
    // using MASKED match positions so a string literal containing the
    // phrase is never touched
    val noOthers = exRe.findAllMatchIn(masked0)
      .filter(_.group(1).toUpperCase.startsWith("NO")).toSeq
    val dropped = noOthers.sortBy(-_.start).foldLeft(sql) { (s, m) =>
      s.substring(0, m.start) + s.substring(m.end)
    }
    val masked = mask(dropped)
    if (exRe.findFirstIn(masked).isEmpty) return dropped
    lower(dropped).getOrElse(sql)
  }

  private case class OverCall(fn: String, arg: String, part: Seq[String],
      order: Seq[String], lo: Option[Int], hi: Option[Int], excl: String,
      start: Int, end: Int)

  /** None = shape not supported; keep the original text (documented
    * construct gap rather than a wrong answer). */
  private def lower(sql: String): Option[String] = {
    val masked = mask(sql)
    val selM = selectRe.findFirstMatchIn(masked).getOrElse(return None)
    val fromAt = topLevelIndex(masked, "FROM", selM.end)
    if (fromAt < 0) return None
    // relation: up to top-level ORDER BY / end; no WHERE/GROUP/HAVING
    val tail = masked.substring(fromAt)
    if (topLevelMatches(tail, clauseRe).nonEmpty) return None
    val obAt = topLevelMatches(tail, orderByRe).toSeq.lastOption.map(fromAt + _.start)
    val relEnd = obAt.getOrElse(sql.length)
    val rel = sql.substring(fromAt + 4, relEnd).trim
    val orderTail = obAt.map(at => " " + sql.substring(at).trim).getOrElse("")

    // select items
    val items = {
      val m = masked.substring(selM.end, fromAt)
      val lens = splitTop(m).map(_.length)
      val starts = lens.scanLeft(0)((a, b) => a + b + 1).init
      starts.zip(lens).map { case (st, n) =>
        (sql.substring(selM.end + st, selM.end + st + n).trim,
          m.substring(st, st + n).trim)
      }
    }

    def parseOver(itemSql: String, itemMasked: String): Option[Seq[OverCall]] = {
      val calls = scala.collection.mutable.ArrayBuffer.empty[OverCall]
      var pos = 0
      while (pos < itemMasked.length) {
        val om = overRe.findFirstMatchIn(itemMasked.substring(pos)) match {
          case None => pos = itemMasked.length
            return Some(calls.toSeq)
          case Some(m) => m
        }
        val oOpen = itemMasked.indexOf('(', pos + om.start)
        val oClose = closeOf(itemMasked, oOpen)
        if (oClose < 0) return None
        // aggregate call immediately before OVER
        var p = pos + om.start - 1
        while (p >= 0 && itemMasked.charAt(p).isWhitespace) p -= 1
        if (p < 0 || itemMasked.charAt(p) != ')') return None
        val j = SqlText.openOf(itemMasked, p)
        if (j < 0) return None
        val fnM = trailingIdentRe.findFirstMatchIn(itemMasked.substring(0, j))
          .getOrElse(return None)
        val fn = fnM.group(1)
        if (!Set("sum", "count", "avg", "min", "max", "stddev", "stddev_pop",
            "stddev_samp", "var_pop", "var_samp", "variance")
            .contains(fn.toLowerCase)) return None
        val arg = itemSql.substring(j + 1, p).trim
        // only shapes qualify() can alias-prefix are safe in the
        // self-join (anything else would resolve ambiguously or, for
        // DISTINCT, produce invalid CASE syntax)
        if (!isSimple(arg) && arg != "*") return None
        val spec = itemSql.substring(oOpen + 1, oClose)
        val specM = itemMasked.substring(oOpen + 1, oClose)
        val partM = partitionByRe.findFirstMatchIn(specM)
        val part = partM.map(m2 => splitTop(spec.substring(m2.start(1), m2.end(1)))
          .map(_.trim)).getOrElse(Nil)
        val ordM = windowOrderRe.findFirstMatchIn(specM)
        val order = ordM.map(m2 => splitTop(spec.substring(m2.start(1), m2.end(1)))
          .map(_.trim
            .replaceAll("(?is)\\s+NULLS\\s+(FIRST|LAST)$", "")
            .replaceAll("(?is)\\s+(ASC|DESC)$", "")))
          .getOrElse(Nil)
        if (rangeRe.findFirstIn(specM).isDefined) return None
        // frame bounds (ROWS only); None = unbounded
        var lo: Option[Int] = Some(0)
        var hi: Option[Int] = Some(0)
        val fr = rowsFrameRe.findFirstMatchIn(specM)
        fr match {
          case None =>
            // default frame is RANGE (peer-extended) — only explicit
            // ROWS frames are handled here
            return None
          case Some(f) =>
            val t = f.group(1).trim.toUpperCase.replaceAll("\\s+", " ")
            val btw = betweenAndRe.findFirstMatchIn(t)
            def bound(b: String, isLower: Boolean): Option[Option[Int]] = b.trim match {
              case "UNBOUNDED PRECEDING" | "UNBOUNDED FOLLOWING" => Some(None)
              case "CURRENT ROW" => Some(Some(0))
              case s =>
                precedingFollowingRe.findFirstMatchIn(s).map { m2 =>
                  val n = m2.group(1).toInt
                  Some(if (m2.group(2).equalsIgnoreCase("PRECEDING")) -n else n)
                }
            }
            btw match {
              case Some(b) =>
                lo = bound(b.group(1), isLower = true).getOrElse(return None)
                hi = bound(b.group(2), isLower = false).getOrElse(return None)
              case None =>
                lo = bound(t, isLower = true).getOrElse(return None)
                hi = Some(0)
            }
        }
        val ex = exRe.findFirstMatchIn(specM)
          .map(_.group(1).toUpperCase.replaceAll("\\s+", " ")).getOrElse("NO OTHERS")
        calls += OverCall(fn, arg, part, order, lo, hi, ex,
          fnM.start(1), oClose + 1)
        pos = oClose + 1
      }
      Some(calls.toSeq)
    }

    val parsed = items.map { case (s, m) => (s, m, parseOver(s, m)) }
    if (parsed.exists(_._3.isEmpty)) return None
    val allCalls = parsed.flatMap(_._3.get)
    if (allCalls.isEmpty) return None
    // one shared partition/order spec
    val specs = allCalls.map(c => (c.part.map(norm), c.order.map(norm))).distinct
    if (specs.length != 1) return None
    val (part, order) = (allCalls.head.part, allCalls.head.order)

    // ---- scale-native path 1: UNBOUNDED..UNBOUNDED frames over
    // sum/count lower to DIFFERENCE-OF-WINDOWS — partition total minus
    // peer-group total (plus the current row for TIES) — two ordinary
    // window aggregates sharing one sort, O(n), NO JOIN. This is the
    // 100 TB-safe plan for the q145 shape; correctness edge cases
    // (empty remaining set → NULL for SUM) are carried by explicit
    // non-null-count guards. Exact for DECIMAL and integer-valued
    // doubles (the difference re-associates fp arithmetic, so a
    // fractional double sum could drift an ulp — those shapes keep the
    // exact self-join below).
    val excluded = allCalls.filter(_.excl != "NO OTHERS")
    val pw =
      if (part.isEmpty) "OVER ()" else s"OVER (PARTITION BY ${part.mkString(", ")})"
    val peerKeys = (part ++ order).mkString(", ")
    val peerW = if (peerKeys.isEmpty) "OVER ()" else s"OVER (PARTITION BY $peerKeys)"
    def diffExpr(c: OverCall): String = {
        val fn = c.fn.toLowerCase
        val a = c.arg.trim
        if (fn == "count") {
          val (t, p, cur) =
            if (a == "*") (s"count(*) $pw", s"count(*) $peerW", "1")
            else (s"count($a) $pw", s"count($a) $peerW",
              s"(CASE WHEN ($a) IS NOT NULL THEN 1 ELSE 0 END)")
          c.excl match {
            case "CURRENT ROW" => s"($t - $cur)"
            case "GROUP" => s"($t - $p)"
            case "TIES" => s"($t - $p + $cur)"
            case _ => sql.substring(0, 0) // unreachable (NO OTHERS filtered)
          }
        } else { // sum
          // the difference re-associates fp arithmetic, so SUM runs on
          // the engine's exact-DECIMAL device (the T.dec2 contract):
          // order-independent and exact for integers/decimals; double
          // args round at 12 fractional digits — deterministic, where
          // a float difference would drift by fold order
          val ad = s"CAST(($a) AS DECIMAL(38, 12))"
          val t = s"sum($ad) $pw"
          val p = s"sum($ad) $peerW"
          val nnT = s"count($a) $pw"
          val nnP = s"count($a) $peerW"
          val curNn = s"(CASE WHEN ($a) IS NOT NULL THEN 1 ELSE 0 END)"
          val raw = c.excl match {
            case "CURRENT ROW" =>
              s"(CASE WHEN $nnT - $curNn = 0 THEN NULL ELSE $t - coalesce($ad, 0) END)"
            case "GROUP" =>
              s"(CASE WHEN $nnT = $nnP THEN NULL ELSE $t - coalesce($p, 0) END)"
            case "TIES" =>
              s"(CASE WHEN $nnT = $nnP AND ($a) IS NULL THEN NULL " +
                s"ELSE $t - coalesce($p, 0) + coalesce($ad, 0) END)"
            case _ => sql.substring(0, 0)
          }
          // re-type to the argument's NATURAL sum class (the self-join
          // path and non-EXCLUDE calls produce it) without losing the
          // exact-decimal difference: agg_typed re-types `raw` to the
          // SAMPLE's analyzed type, and `sum(a) OVER pw` analyzes to
          // exactly Spark's sum derivation — BIGINT for integral args
          // (the r7 `+ 0*sum(a)` trick left DECIMAL(38,12), the
          // int-vs-decimal driver-hash trap ADVICE r8 flagged), DOUBLE
          // for float, widened-precision decimal at the arg's scale for
          // decimal (where truncation-at-scale is identity on the exact
          // difference). The sample is never evaluated (RuntimeReplaceable
          // drops it), so no extra Window pass.
          s"agg_typed($raw, sum($a) $pw)"
        }
      }
    // every EXCLUDE call is an unbounded sum/count → pure difference-of-
    // windows select, no join at all; non-excluded calls (any frame,
    // any aggregate) keep their original text (they are ordinary window
    // calls — round 9 relaxed the former all-calls-unbounded guard)
    if (excluded.nonEmpty &&
        excluded.forall(c => c.lo.isEmpty && c.hi.isEmpty &&
          Set("sum", "count").contains(c.fn.toLowerCase))) {
      val newItems = parsed.map { case (s, _, callsOpt) =>
        var out = s
        callsOpt.get.sortBy(-_.start).foreach { c =>
          if (c.excl != "NO OTHERS")
            out = out.substring(0, c.start) + diffExpr(c) + out.substring(c.end)
        }
        out
      }
      return Some(s"SELECT ${newItems.mkString(", ")} FROM $rel" + orderTail)
    }

    // every partition/order key must be alias-prefixable, or the
    // self-join would leave it ambiguous
    if (!(part ++ order).forall(isSimple)) return None
    val rnOrder = if (order.nonEmpty) order.mkString(", ") else "'x'"
    val rnSpec = (if (part.nonEmpty) s"PARTITION BY ${part.mkString(", ")} " else "") +
      s"ORDER BY $rnOrder"
    def qualify(e: String, t: String): String = {
      val tr = e.trim
      if (isSimple(tr)) s"$t.$tr" else tr
    }
    def cond(c: OverCall): String = {
      val frame = Seq(
        c.lo.map(n => s"j.__rn >= o.__rn + $n"),
        c.hi.map(n => s"j.__rn <= o.__rn + $n")).flatten
      val peerEq =
        if (order.isEmpty) "true"
        else order.map(k => s"${qualify(k, "j")} <=> ${qualify(k, "o")}").mkString("(", " AND ", ")")
      val ex = c.excl match {
        case "CURRENT ROW" => Seq("j.__rn <> o.__rn")
        case "GROUP" => Seq(s"NOT $peerEq")
        case "TIES" => Seq(s"(NOT $peerEq OR j.__rn = o.__rn)")
        case _ => Nil
      }
      (frame ++ ex).mkString(" AND ") match { case "" => "true"; case s => s }
    }

    // rebuild select items: replace each over call with the CASE'd join
    // aggregate, qualify plain items with o.
    val plainCols = scala.collection.mutable.ArrayBuffer.empty[String]
    val newItems = parsed.map { case (s, _, callsOpt) =>
      val calls = callsOpt.get
      if (calls.isEmpty) {
        val asM = asRe.findFirstMatchIn(s)
        val expr = asM.map(a => s.substring(0, a.start)).getOrElse(s)
        if (!isSimple(expr.trim)) return None // would be ambiguous in the join
        val q = qualify(expr, "o")
        plainCols += q
        q + asM.map(a => s.substring(a.start)).getOrElse("")
      } else {
        // replace calls right-to-left
        var out = s
        calls.sortBy(-_.start).foreach { c =>
          val argExpr =
            if (c.arg.trim == "*") s"CASE WHEN ${cond(c)} THEN 1 END"
            else s"CASE WHEN ${cond(c)} THEN ${qualify(c.arg, "j")} END"
          out = out.substring(0, c.start) + s"${c.fn}($argExpr)" + out.substring(c.end)
        }
        out
      }
    }
    val partJoin =
      if (part.isEmpty) "true"
      else part.map(p => s"${qualify(p, "j")} <=> ${qualify(p, "o")}").mkString(" AND ")
    // the partition keys MUST group too: __rn only numbers rows WITHIN
    // a partition, so without them two rows of different partitions
    // sharing an __rn (and the same plain items) would merge into one
    // group aggregating j-matches from BOTH partitions
    val groupBy = ("o.__rn" +: (part.map(p => qualify(p, "o")) ++ plainCols.toSeq))
      .distinct.mkString(", ")
    // ---- scale-native path 3 (round 9): MIXED frames — bounded
    // EXCLUDE calls take the explode equi-join exactly as path 2;
    // every OTHER call (unbounded sum/count EXCLUDE via difference-of-
    // windows, NO OTHERS calls verbatim — any frame, any aggregate)
    // rides the base CTE as a precomputed window column, constant per
    // group, surfaced through max(o.__exwK). The |partition|² self-join
    // below remains ONLY for min/max-class aggregates over unbounded
    // EXCLUDE frames, where no windowed difference exists.
    val boundedExcl = excluded.filter(c => c.lo.isDefined && c.hi.isDefined)
    val unboundedExcl = excluded.filter(c => c.lo.isEmpty || c.hi.isEmpty)
    if (boundedExcl.nonEmpty &&
        !allCalls.forall(c => c.lo.isDefined && c.hi.isDefined) &&
        // the difference-of-windows device needs the FULL partition:
        // half-bounded EXCLUDE frames (2 PRECEDING..UNBOUNDED FOLLOWING,
        // winagg.iq:1147) keep the self-join fallback
        unboundedExcl.forall(c => c.lo.isEmpty && c.hi.isEmpty &&
          Set("sum", "count").contains(c.fn.toLowerCase))) {
      val baseCols = scala.collection.mutable.ArrayBuffer.empty[String]
      var k = 0
      val mixedItems = parsed.map { case (s, _, callsOpt) =>
        val calls = callsOpt.get
        if (calls.isEmpty) {
          // same plain-item shape the shared groupBy was built from
          val asM = asRe.findFirstMatchIn(s)
          val expr = asM.map(a => s.substring(0, a.start)).getOrElse(s)
          qualify(expr, "o") + asM.map(a => s.substring(a.start)).getOrElse("")
        } else {
          var out = s
          calls.sortBy(-_.start).foreach { c =>
            if (c.excl != "NO OTHERS" && c.lo.isDefined && c.hi.isDefined) {
              val argExpr =
                if (c.arg.trim == "*") s"CASE WHEN ${cond(c)} THEN 1 END"
                else s"CASE WHEN ${cond(c)} THEN ${qualify(c.arg, "j")} END"
              out = out.substring(0, c.start) + s"${c.fn}($argExpr)" + out.substring(c.end)
            } else {
              val expr =
                if (c.excl == "NO OTHERS") s.substring(c.start, c.end) else diffExpr(c)
              baseCols += s"$expr AS __exw$k"
              out = out.substring(0, c.start) + s"max(o.__exw$k)" + out.substring(c.end)
              k += 1
            }
          }
          out
        }
      }
      val jLo = (0 +: boundedExcl.flatMap(_.lo)).min
      val jHi = (0 +: boundedExcl.flatMap(_.hi)).max
      return Some(s"WITH __exb AS (SELECT *, row_number() OVER ($rnSpec) AS __rn" +
        baseCols.map(", " + _).mkString +
        s" FROM (SELECT * FROM $rel) __exr),\n" +
        s"__exo AS (SELECT *, explode(sequence(__rn + ($jLo), __rn + ($jHi))) AS __jrn FROM __exb)\n" +
        s"SELECT ${mixedItems.mkString(", ")} FROM __exo o JOIN __exb j ON $partJoin " +
        s"AND j.__rn = o.__jrn GROUP BY $groupBy" + orderTail)
    }
    // ---- scale-native path 2: every frame bounded (n PRECEDING..m
    // FOLLOWING) → generate the frame's row numbers with explode(
    // sequence(rn+lo, rn+hi)) and EQUI-join on (partition, __rn): the
    // join produces exactly O(n·frame) rows instead of the |partition|²
    // self-join (and, unlike a BETWEEN range condition inside the ON,
    // it hash-joins — no per-group pair enumeration).
    if (allCalls.forall(c => c.lo.isDefined && c.hi.isDefined)) {
      // the range always includes offset 0 so every outer row keeps its
      // self-match — an inner join must not drop rows whose frame is
      // empty (their aggregate is NULL via the CASE, not a missing row)
      val jLo = (0 +: allCalls.flatMap(_.lo)).min
      val jHi = (0 +: allCalls.flatMap(_.hi)).max
      return Some(s"WITH __exb AS (SELECT *, row_number() OVER ($rnSpec) AS __rn " +
        s"FROM (SELECT * FROM $rel) __exr),\n" +
        s"__exo AS (SELECT *, explode(sequence(__rn + ($jLo), __rn + ($jHi))) AS __jrn FROM __exb)\n" +
        s"SELECT ${newItems.mkString(", ")} FROM __exo o JOIN __exb j ON $partJoin " +
        s"AND j.__rn = o.__jrn GROUP BY $groupBy" + orderTail)
    }
    Some(s"WITH __exb AS (SELECT *, row_number() OVER ($rnSpec) AS __rn " +
      s"FROM (SELECT * FROM $rel) __exr)\n" +
      s"SELECT ${newItems.mkString(", ")} FROM __exb o JOIN __exb j ON $partJoin " +
      s"GROUP BY $groupBy" + orderTail)
  }

  private def norm(e: String): String = e.trim.toLowerCase.replaceAll("\\s+", " ")

  /** A bare or backquoted single identifier — the only expressions the
    * self-join lowering can safely alias-prefix. */
  private def isSimple(e: String): Boolean =
    bareIdentRe.matches(e.trim) || quotedIdentRe.matches(e.trim)
}

package graft.sql

/** Full SQL surface for the windowing table-valued functions
  * TUMBLE / HOP / SESSION (ref: SqlWindowTableFunction.java:53-117,
  * SqlStdOperatorTable TUMBLE/HOP/SESSION:2606-2612, stream.iq).
  *
  * Beyond the original regex lowering this parser handles the complete
  * grammar the reference accepts:
  *   - positional AND named arguments (`DATA =>`, `TIMECOL =>`,
  *     `SIZE =>`, `SLIDE =>`, `KEY =>`, `OFFSET =>`);
  *   - `TABLE name` or a parenthesized subquery as the DATA argument;
  *   - the optional alignment OFFSET interval on TUMBLE/HOP;
  *   - compound interval literals (`INTERVAL '20:10.525' MINUTE TO
  *     SECOND`) and fractional seconds (`INTERVAL '0.5' SECONDS`);
  *   - SESSION with or without the optional KEY descriptor.
  *
  * Lowerings (all per-row, no TVF machinery at runtime):
  *   - TUMBLE/HOP → a subselect projecting Spark's `window()` struct;
  *     Catalyst's TimeWindowing rule turns that into epoch-aligned
  *     arithmetic (tumble) or an Expand over the overlapped slides
  *     (hop) — codegen-friendly, shuffle-free.
  *   - SESSION → merge-overlapping-windows sessionization as three
  *     nested window-function selects: rows whose [ts, ts+gap) windows
  *     overlap share a session; window_start = min(ts), window_end =
  *     last ts + gap (SessionizationEnumerator semantics, CALCITE-7683).
  *     The windows partition on the (high-cardinality) key columns, so
  *     task state stays bounded at scale; the keyless form is a single
  *     ordered pass, the same as any global sessionization.
  *   - NULL timestamps belong to no window and are discarded
  *     (CALCITE-7684): the lowering filters `ts IS NOT NULL`.
  */
object WindowTvfSql {

  private case class Arg(name: Option[String], text: String)

  /** A parsed interval, in milliseconds. */
  private def intervalMs(text: String): Long = {
    val re = "(?is)INTERVAL\\s+'([^']+)'\\s+(\\w+)(?:\\s+TO\\s+(\\w+))?".r
    text.trim match {
      case re(v, u1, u2) =>
        val unit1 = u1.toUpperCase.stripSuffix("S")
        if (u2 == null) {
          val n = BigDecimal(v)
          val mult = unit1 match {
            case "SECOND" => 1000L
            case "MINUTE" => 60000L
            case "HOUR" => 3600000L
            case "DAY" => 86400000L
            case other => throw new IllegalArgumentException(
              s"window TVF: unsupported interval unit $other")
          }
          (n * mult).toLongExact
        } else {
          // compound form: fields are ':'-separated (days use ' ' before
          // hours: 'd h:m:s'); the leading field is unit1, trailing unit2
          val parts = v.trim.split("[: ]").map(BigDecimal(_))
          val units = Seq("DAY", "HOUR", "MINUTE", "SECOND")
          val i1 = units.indexOf(unit1)
          val i2 = units.indexOf(u2.toUpperCase.stripSuffix("S"))
          require(i1 >= 0 && i2 > i1 && parts.length == i2 - i1 + 1,
            s"window TVF: malformed compound interval $text")
          val mult = Seq(86400000L, 3600000L, 60000L, 1000L)
          (i1 to i2).zip(parts).map { case (u, p) => p * mult(u) }
            .sum.toLongExact
        }
      case other => throw new IllegalArgumentException(
        s"window TVF: expected INTERVAL literal, got '$other'")
    }
  }

  private def descriptorCol(text: String): Option[String] = {
    val re = "(?is)DESCRIPTOR\\s*\\(\\s*([\\w`\"]+)\\s*\\)".r
    re.findFirstMatchIn(text.trim).map(_.group(1).replaceAll("[`\"]", ""))
  }

  private def parseArg(a: String): Arg = {
    val named = "(?is)^(\\w+)\\s*=>\\s*(.+)$".r
    a.trim match {
      case named(n, rest) => Arg(Some(n.toUpperCase), rest.trim)
      case other => Arg(None, other)
    }
  }

  private val tvfRe = "(?is)\\bTABLE\\s*\\(\\s*(TUMBLE|HOP|SESSION)\\s*\\(".r

  def rewrite(sql: String): String =
    SqlText.spliceEach(sql, tvfRe) { site =>
      val innerClose = site.close // the TVF's ')'
      // the TABLE(...) close follows the TVF close
      var j = innerClose + 1
      while (innerClose >= 0 && j < site.m.length && site.m.charAt(j).isWhitespace) j += 1
      if (innerClose < 0 || j >= site.m.length || site.m.charAt(j) != ')') None
      else {
        val args = SqlText.splitTop(site.sql.substring(site.end, innerClose)).map(_.trim).filter(_.nonEmpty)
        Some(SqlText.Splice(site.start, j + 1,
          lowerCall(site.group(1).toUpperCase, args.map(parseArg))))
      }
    }

  private def lowerCall(fn: String, args: Seq[Arg]): String = {
    def isData(t: String) = t.matches("(?is)^TABLE\\s+.+") || t.startsWith("(")
    def isDescriptor(t: String) = t.matches("(?is)^DESCRIPTOR\\s*\\(.*")
    def isInterval(t: String) = t.matches("(?is)^INTERVAL\\s+.*")

    var data: String = null
    var timecol: String = null
    var key: Option[String] = None
    val intervals = scala.collection.mutable.ArrayBuffer.empty[(String, Long)] // (role or "", ms)
    for (a <- args) a.name match {
      case Some("DATA") => data = a.text
      case Some("TIMECOL") => timecol = descriptorCol(a.text).orNull
      case Some("KEY") => key = descriptorCol(a.text)
      case Some(role @ ("SIZE" | "SLIDE" | "OFFSET" | "GAP")) =>
        intervals += ((role, intervalMs(a.text)))
      case Some(other) => throw new IllegalArgumentException(
        s"window TVF: unknown parameter $other")
      case None =>
        if (isData(a.text) && data == null) data = a.text
        else if (isDescriptor(a.text)) {
          if (timecol == null) timecol = descriptorCol(a.text).orNull
          else key = descriptorCol(a.text) // SESSION's optional 2nd descriptor
        } else if (isInterval(a.text)) intervals += (("", intervalMs(a.text)))
        else throw new IllegalArgumentException(
          s"window TVF: unrecognized argument '${a.text.take(60)}'")
    }
    require(data != null && timecol != null, s"$fn needs DATA and TIMECOL")

    // `TABLE name` data keeps `name` as the lowered subselect's alias so
    // outer column references still qualify; subquery data gets `__tvf`
    val (rel, alias) = {
      val t = data.trim
      if (t.startsWith("(")) (t, "__tvf")
      else {
        val n = t.replaceFirst("(?is)^TABLE\\s+", "").trim
        (s"(SELECT * FROM $n)", n)
      }
    }
    def named(role: String): Option[Long] =
      intervals.collectFirst { case (r, v) if r == role => v }
    def positional(i: Int): Option[Long] = {
      val pos = intervals.filter(_._1.isEmpty)
      if (i < pos.length) Some(pos(i)._2) else None
    }

    fn match {
      case "TUMBLE" =>
        val size = named("SIZE").orElse(positional(0)).getOrElse(
          throw new IllegalArgumentException("TUMBLE needs a SIZE interval"))
        val off = named("OFFSET").orElse(positional(1)).getOrElse(0L)
        windowSelect(rel, alias, timecol, size, size, off)
      case "HOP" =>
        // positional order is (slide, size); named args are explicit
        val slide = named("SLIDE").orElse(positional(0)).getOrElse(
          throw new IllegalArgumentException("HOP needs a SLIDE interval"))
        val size = named("SIZE").orElse(positional(1)).getOrElse(
          throw new IllegalArgumentException("HOP needs a SIZE interval"))
        val off = named("OFFSET").orElse(positional(2)).getOrElse(0L)
        windowSelect(rel, alias, timecol, size, slide, off)
      case "SESSION" =>
        val gap = named("SIZE").orElse(named("GAP")).orElse(positional(0))
          .getOrElse(throw new IllegalArgumentException("SESSION needs a gap interval"))
        sessionSelect(rel, alias, timecol, key, gap)
    }
  }

  private def windowSelect(rel: String, alias: String, ts: String,
      sizeMs: Long, slideMs: Long, offMs: Long): String = {
    val w = s"window($ts, '$sizeMs milliseconds', '$slideMs milliseconds', '$offMs milliseconds')"
    s"(SELECT * EXCEPT (__w), __w.start AS window_start, __w.end AS window_end " +
      s"FROM (SELECT *, $w AS __w FROM $rel __tvf_d WHERE $ts IS NOT NULL) __tvf_in) $alias"
  }

  private def sessionSelect(rel: String, alias: String, ts: String,
      key: Option[String], gapMs: Long): String = {
    val part = key.map(k => s"PARTITION BY $k ").getOrElse("")
    val sessPart = key.map(k => s"$k, ").getOrElse("")
    val gap = s"INTERVAL '$gapMs' MILLISECOND"
    // session boundary: this row's provisional window [ts, ts+gap) does
    // NOT overlap the previous row's, i.e. ts - prev >= gap
    s"""(SELECT * EXCEPT (__prev, __sess),
       |        min($ts) OVER (PARTITION BY ${sessPart}__sess) AS window_start,
       |        max($ts) OVER (PARTITION BY ${sessPart}__sess) + $gap AS window_end
       | FROM (SELECT *, sum(CASE WHEN __prev IS NULL OR $ts - __prev >= $gap THEN 1 ELSE 0 END)
       |               OVER (${part}ORDER BY $ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS __sess
       |       FROM (SELECT *, lag($ts) OVER (${part}ORDER BY $ts) AS __prev
       |             FROM $rel __tvf_d WHERE $ts IS NOT NULL) __s1) __s2) $alias""".stripMargin
  }
}

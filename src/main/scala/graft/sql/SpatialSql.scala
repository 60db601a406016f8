package graft.sql

import java.util.Locale

/** SQL adapter for the reference's ST_* spatial surface (ref:
  * runtime/SpatialTypeFunctions.java operator spellings, exercised by
  * core/src/test/resources/sql/spatial.iq): maps ST_ function names
  * onto the [[graft.functions.Spatial2]] registry and wraps WKT string
  * literals in geometry positions (the reference implicit-casts
  * VARCHAR → GEOMETRY; here the geometry type IS the normalized WKT
  * string, so the wrap is a parse/normalize call).
  */
object SpatialSql {

  /** ST_ name (upper) → geo_ function. Arity-varying names map on the
    * base spelling; the literal-wrap pass runs first so the arguments
    * are already normalized. */
  private val nameMap: Map[String, String] = Map(
    "ST_GEOMFROMTEXT" -> "geo_fromtext",
    "ST_POINTFROMTEXT" -> "geo_fromtext",
    "ST_LINEFROMTEXT" -> "geo_fromtext",
    "ST_POLYFROMTEXT" -> "geo_fromtext",
    "ST_MPOINTFROMTEXT" -> "geo_fromtext",
    "ST_MLINEFROMTEXT" -> "geo_fromtext",
    "ST_MPOLYFROMTEXT" -> "geo_fromtext",
    "ST_GEOMFROMEWKT" -> "geo_fromtext",
    "ST_ASTEXT" -> "geo_astext",
    "ST_ASWKT" -> "geo_astext",
    "ST_ASEWKT" -> "geo_asewkt",
    "ST_ASBINARY" -> "geo_aswkbhex",
    "ST_GEOMFROMGEOJSON" -> "geo_fromgeojson",
    "ST_GEOMFROMGML" -> "geo_fromgml",
    "ST_ASWKB" -> "geo_aswkbhex",
    "ST_ASEWKB" -> "geo_aswkbhex",
    "ST_GEOMFROMWKB" -> "geo_fromwkbhex",
    "ST_POINTFROMWKB" -> "geo_pointfromwkb",
    "ST_LINEFROMWKB" -> "geo_linefromwkb",
    "ST_POLYFROMWKB" -> "geo_polyfromwkb",
    "ST_ASGEOJSON" -> "geo_asgeojson",
    "ST_ASGML" -> "geo_asgml",
    "ST_POINT" -> "geo_point",
    "ST_MAKEPOINT" -> "geo_point",
    "ST_X" -> "geo_x",
    "ST_Y" -> "geo_y",
    "ST_Z" -> "geo_z",
    "ST_AREA" -> "geo_area",
    "ST_LENGTH" -> "geo_length",
    "ST_PERIMETER" -> "geo_perimeter",
    "ST_NUMPOINTS" -> "geo_numpoints",
    "ST_NPOINTS" -> "geo_numpoints",
    "ST_NUMGEOMETRIES" -> "geo_numgeometries",
    "ST_NUMINTERIORRING" -> "geo_numinteriorrings",
    "ST_NUMINTERIORRINGS" -> "geo_numinteriorrings",
    "ST_CENTROID" -> "geo_centroid",
    "ST_ENVELOPE" -> "geo_envelope",
    "ST_BOUNDARY" -> "geo_boundary",
    "ST_DISTANCE" -> "geo_distance",
    "ST_DWITHIN" -> "geo_dwithin",
    "ST_CONTAINS" -> "geo_contains",
    "ST_WITHIN" -> "geo_within",
    "ST_INTERSECTS" -> "geo_intersects",
    "ST_DISJOINT" -> "geo_disjoint",
    "ST_REDUCEPRECISION" -> "geo_reduceprecision",
    "ST_PRECISIONREDUCER" -> "geo_precisionreducer",
    "ST_REMOVEREPEATEDPOINTS" -> "geo_removerepeatedpoints",
    "ST_TRANSLATE" -> "geo_translate",
    "ST_REVERSE" -> "geo_reverse",
    "ST_POINTN" -> "geo_pointn",
    "ST_GEOMETRYN" -> "geo_geometryn",
    "ST_STARTPOINT" -> "geo_startpoint",
    "ST_ENDPOINT" -> "geo_endpoint",
    "ST_GEOMETRYTYPE" -> "geo_geometrytype",
    "ST_GEOMETRYTYPECODE" -> "geo_geometrytypecode",
    "ST_SRID" -> "geo_srid",
    "ST_SETSRID" -> "geo_setsrid",
    "ST_ISEMPTY" -> "geo_isempty",
    "ST_ISSIMPLE" -> "geo_issimple",
    "ST_ISVALID" -> "geo_isvalid",
    "ST_ISCLOSED" -> "geo_isclosed",
    "ST_ISRING" -> "geo_isring",
    "ST_XMIN" -> "geo_xmin",
    "ST_XMAX" -> "geo_xmax",
    "ST_YMIN" -> "geo_ymin",
    "ST_YMAX" -> "geo_ymax",
    "ST_DIMENSION" -> "geo_dimension",
    "ST_COORDDIM" -> "geo_coorddim",
    "ST_IS3D" -> "geo_is3d",
    "ST_ADDZ" -> "geo_addz",
    "ST_HOLES" -> "geo_holes",
    "ST_REMOVEHOLES" -> "geo_removeholes",
    "ST_MAKELINE" -> "geo_makeline",
    "ST_MAKEENVELOPE" -> "geo_makeenvelope",
    "ST_EXPAND" -> "geo_expand",
    "ST_DENSIFY" -> "geo_densify",
    "ST_TOMULTIPOINT" -> "geo_tomultipoint",
    "ST_MAXDISTANCE" -> "geo_maxdistance",
    "ST_ROTATE" -> "geo_rotate",
    "ST_CONVEXHULL" -> "geo_convexhull",
    "ST_SIMPLIFY" -> "geo_simplify",
    "ST_SIMPLIFYPRESERVETOPOLOGY" -> "geo_simplifypreserve",
    "ST_BUFFER" -> "geo_buffer",
    "ST_BOUNDINGCIRCLE" -> "geo_boundingcircle",
    "ST_MINIMUMBOUNDINGCIRCLE" -> "geo_boundingcircle",
    "ST_EXTENT" -> "geo_extent",
    "ST_NORMALIZE" -> "geo_normalize",
    "ST_EXTERIORRING" -> "geo_exteriorring",
    "ST_INTERIORRINGN" -> "geo_interiorringn",
    "ST_FORCE2D" -> "geo_force2d",
    "ST_FORCE3D" -> "geo_force3d",
    "ST_FLIPCOORDINATES" -> "geo_flipcoordinates",
    "ST_ORDERINGEQUALS" -> "geo_orderingequals",
    "ST_EQUALS" -> "geo_equalsgeom",
    "ST_TOMULTISEGMENTS" -> "geo_tomultisegments",
    "ST_REMOVEPOINT" -> "geo_removepointidx",
    "ST_LOCATEALONG" -> "geo_locatealong",
    "ST_CLOSESTPOINT" -> "geo_closestpoint",
    "ST_PROJECTPOINT" -> "geo_projectpoint",
    "ST_LONGESTLINE" -> "geo_longestline",
    "ST_CLOSESTCOORDINATE" -> "geo_closestcoordinate",
    "ST_FURTHESTCOORDINATE" -> "geo_furthestcoordinate",
    "ST_CONTAINSPROPERLY" -> "geo_containsproperly",
    "ST_COVERS" -> "geo_covers",
    "ST_COVEREDBY" -> "geo_coveredby",
    "ST_SPLIT" -> "geo_split",
    "ST_ZMAX" -> "geo_zmax",
    "ST_ZMIN" -> "geo_zmin",
    "ST_INTERIORRING" -> "geo_interiorring",
    "ST_ISRECTANGLE" -> "geo_isrectangle",
    "ST_POINTONSURFACE" -> "geo_pointonsurface",
    "ST_CROSSES" -> "geo_crosses",
    "ST_OVERLAPS" -> "geo_overlaps",
    "ST_TOUCHES" -> "geo_touches",
    "ST_ENVELOPESINTERSECT" -> "geo_envelopesintersect",
    "ST_RELATE" -> "geo_relate",
    "ST_SCALE" -> "geo_scale",
    "ST_ADDPOINT" -> "geo_addpoint",
    "ST_TOMULTILINE" -> "geo_tomultiline",
    "ST_MAKEPOLYGON" -> "geo_makepolygon",
    "ST_MAKEELLIPSE" -> "geo_makeellipse",
    "ST_OCTAGONALENVELOPE" -> "geo_octagonalenvelope",
    "ST_MINIMUMDIAMETER" -> "geo_minimumdiameter",
    "ST_MINIMUMRECTANGLE" -> "geo_minimumrectangle",
    "ST_LINEMERGE" -> "geo_linemerge",
    "ST_MAKEVALID" -> "geo_makevalid",
    "ST_SNAP" -> "geo_snap",
    "ST_UNARYUNION" -> "geo_unaryunion1",
    "ST_OFFSETCURVE" -> "geo_offsetcurve",
    "ST_TRANSFORM" -> "geo_transform",
    "ST_ACCUM" -> "geo_accum",
    "ST_COLLECT" -> "geo_collect_agg",
    "ST_UNION" -> "geo_union_agg",
    "ST_MAKEGRID" -> "geo_makegrid",
    "ST_MAKEGRIDPOINTS" -> "geo_makegridpoints",
    "ST_EXPLODE" -> "geo_explode",
    "ST_INTERSECTION" -> "geo_intersection",
    "ST_DIFFERENCE" -> "geo_difference",
    "ST_SYMDIFFERENCE" -> "geo_symdifference",
    "ST_DELAUNAY" -> "geo_delaunay",
    "ST_CONSTRAINEDDELAUNAY" -> "geo_constraineddelaunay",
    "ST_POLYGONIZE" -> "geo_polygonize")

  private val wktStart =
    "(?i)^\\s*(SRID=\\d+\\s*;\\s*)?(POINT|LINESTRING|LINEARRING|POLYGON|MULTIPOINT|MULTILINESTRING|MULTIPOLYGON|GEOMETRYCOLLECTION)\\b".r

  def rewrite(sql: String): String =
    orderByNullsHigh(stripTopLevelSrid(rewriteValues(rewriteTvfs(fixArity(wrapWktLiterals(mapNames(fixCasts(sql))))))))

  /** The reference's default null collation is HIGH (nulls sort as the
    * largest value — first under DESC, last under ASC); Spark's default
    * is the opposite. Make the reference's choice explicit on every
    * top-level sort key that doesn't already carry a NULLS clause. */
  private def orderByNullsHigh(sql: String): String = {
    val masked = SqlText.mask(sql)
    val obRe = "(?i)\\border\\s+by\\b".r
    val ob = obRe.findAllMatchIn(masked).find { m =>
      val pre = masked.substring(0, m.start)
      pre.count(_ == '(') == pre.count(_ == ')')
    }.getOrElse(return sql)
    // keys end at the next top-level LIMIT/OFFSET/FETCH or statement end
    val tailRe = "(?i)\\b(limit|offset|fetch)\\b".r
    val end = tailRe.findAllMatchIn(masked).find { m =>
      m.start > ob.end && {
        val pre = masked.substring(0, m.start)
        pre.count(_ == '(') == pre.count(_ == ')')
      }
    }.map(_.start).getOrElse(sql.length)
    val keys = SqlText.splitTop(masked.substring(ob.end, end))
    var offset = ob.end
    val sb = new StringBuilder(sql.substring(0, ob.end))
    for ((k, i) <- keys.zipWithIndex) {
      val orig = sql.substring(offset, offset + k.length)
      val up = k.toUpperCase(Locale.ROOT)
      val rewritten =
        if (up.contains("NULLS")) orig
        else if ("(?i)\\bDESC\\s*$".r.findFirstIn(orig).isDefined) orig + " NULLS FIRST "
        else orig + " NULLS LAST "
      sb.append(rewritten)
      if (i < keys.length - 1) sb.append(',')
      offset += k.length + 1
    }
    sb.append(sql.substring(end)).toString
  }

  /** Spark's inline tables reject non-foldable expressions; VALUES rows
    * that call geo_ functions become a UNION ALL chain. A bare
    * top-level `VALUES expr` becomes `SELECT expr`. */
  private def rewriteValues(sql: String): String = {
    var s = sql
    if (s.trim.toLowerCase(Locale.ROOT).startsWith("values") &&
      s.toLowerCase(Locale.ROOT).contains("geo_"))
      s = "SELECT " + s.trim.substring("values".length)
    val re = "(?i)\\(\\s*VALUES\\b".r
    var m0 = re.findFirstMatchIn(SqlText.mask(s))
    var guard = 0
    while (m0.isDefined && guard < 20) {
      guard += 1
      val m = m0.get
      val open = m.start // the '(' that encloses the VALUES subquery
      val close = SqlText.closeOf(SqlText.mask(s), open)
      // locate the keyword case-insensitively — a lowercase `values`
      // would otherwise slide the slice and corrupt the whole statement
      val kwAt = s.toLowerCase(Locale.ROOT).indexOf("values", m.start)
      val body = s.substring(kwAt + "values".length, close)
      if (body.toLowerCase(Locale.ROOT).contains("geo_")) {
        val rows = SqlText.splitTop(body).map(_.trim)
        val selects = rows.map { r =>
          val inner = if (r.startsWith("(") && SqlText.closeOf(SqlText.mask(r), 0) == r.length - 1)
            r.substring(1, r.length - 1)
          else r
          s"SELECT $inner"
        }
        s = s.substring(0, open + 1) + selects.mkString(" UNION ALL ") + s.substring(close)
        m0 = re.findFirstMatchIn(SqlText.mask(s))
      } else m0 = None // literal-only VALUES are fine as-is
    }
    s
  }

  /** A geometry value rendered directly (not via ST_AsEWKT) prints as
    * plain WKT: unwrap the `srid:n;` tag that SRID-carrying
    * constructors attach when one is the outermost call of a top-level
    * select item. */
  private val sridCarriers = Set("geo_fromtext_srid", "geo_fromwkbhex_srid",
    "geo_pointfromwkb_srid", "geo_linefromwkb_srid", "geo_polyfromwkb_srid",
    "geo_fromgml_srid", "geo_setsrid")

  private def stripTopLevelSrid(sql: String): String = {
    val masked = SqlText.mask(sql)
    val selRe = "(?is)^\\s*select\\s+".r
    val sel = selRe.findFirstMatchIn(masked).getOrElse(return sql)
    // find the top-level FROM (or end of statement)
    var depth = 0
    var i = sel.end
    var fromAt = masked.length
    val lower = masked.toLowerCase(Locale.ROOT)
    while (i < masked.length && fromAt == masked.length) {
      masked.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case 'f' | 'F' if depth == 0 && lower.startsWith("from", i) &&
          (i == 0 || !masked.charAt(i - 1).isLetterOrDigit) &&
          (i + 4 >= masked.length || !masked.charAt(i + 4).isLetterOrDigit) =>
          fromAt = i
        case _ =>
      }
      i += 1
    }
    val listMasked = masked.substring(sel.end, fromAt)
    val items = SqlText.splitTop(listMasked)
    var offset = sel.end
    var out = sql
    var shift = 0
    for (item <- items) {
      val itemStart = offset
      val t = item.trim
      val lead = item.indexOf(t)
      val callRe = ("^(" + sridCarriers.mkString("|") + ")\\s*\\(").r
      callRe.findFirstMatchIn(t).foreach { cm =>
        val callOpen = itemStart + lead + cm.end - 1
        val callClose = SqlText.closeOf(SqlText.mask(out), callOpen + shift)
        if (callClose > 0) {
          val absStart = itemStart + lead + shift
          out = out.substring(0, absStart) + "geo_astext(" +
            out.substring(absStart, callClose + 1) + ")" + out.substring(callClose + 1)
          shift += "geo_astext(".length + 1
        }
      }
      offset += item.length + 1
    }
    out
  }

  /** The GEOMETRY SQL type is a normalized-WKT string here. */
  private def fixCasts(sql: String): String =
    sql.replaceAll("(?i)\\bAS\\s+GEOMETRY\\b", "AS STRING")
      .replaceAll("(?i)\\bhilbert\\s*\\(", "geo_hilbert(")

  /** Arity-variant dispatch: (function, arity) pairs that route to a
    * dedicated registration (SRID-carrying constructors, style args,
    * rotation origins, ...). */
  private val arityMap: Map[(String, Int), String] = Map(
    ("geo_fromtext", 2) -> "geo_fromtext_srid",
    ("geo_fromwkbhex", 2) -> "geo_fromwkbhex_srid",
    ("geo_pointfromwkb", 2) -> "geo_pointfromwkb_srid",
    ("geo_linefromwkb", 2) -> "geo_linefromwkb_srid",
    ("geo_polyfromwkb", 2) -> "geo_polyfromwkb_srid",
    ("geo_fromgml", 2) -> "geo_fromgml_srid",
    ("geo_point", 3) -> "geo_point3",
    ("geo_buffer", 2) -> "geo_buffer_neg",
    ("geo_buffer", 3) -> "geo_buffer_style",
    ("geo_expand", 2) -> "geo_expand2",
    ("geo_makeenvelope", 5) -> "geo_makeenvelope_srid",
    ("geo_relate", 3) -> "geo_relate_mask",
    ("geo_addpoint", 3) -> "geo_addpoint_idx",
    ("geo_makepolygon", 2) -> "geo_makepolygon_hole",
    ("geo_unaryunion1", 2) -> "geo_unaryunion2",
    ("geo_rotate", 3) -> "geo_rotate_pt",
    ("geo_rotate", 4) -> "geo_rotate_xy",
    ("geo_removerepeatedpoints", 2) -> "geo_removerepeatedpoints_tol",
    ("geo_hilbert", 1) -> "geo_hilbert_geom",
    ("geo_hilbert", 2) -> "geo_hilbert_xy",
    ("geo_delaunay", 2) -> "geo_delaunay_flag",
    ("geo_constraineddelaunay", 2) -> "geo_constraineddelaunay_flag")

  private val arityFns = arityMap.keysIterator.map(_._1).toSet

  private def fixArity(sql: String): String = {
    var s = sql
    var changed = true
    while (changed) {
      changed = false
      val masked = SqlText.mask(s)
      val re = ("(?i)\\b(" + arityFns.mkString("|") + "|geo_makeline)\\s*\\(").r
      val it = re.findAllMatchIn(masked).toSeq
      for (m <- it if !changed) {
        val open = m.end - 1
        val close = SqlText.closeOf(masked, open)
        if (close > 0) {
          val args = SqlText.splitTop(masked.substring(open + 1, close))
          val fn = m.group(1).toLowerCase(Locale.ROOT)
          if (fn == "geo_makeline" && args.length > 2) {
            // left-fold variadic point lists into nested 2-arg calls
            val orig = SqlText.splitTop(s.substring(open + 1, close))
            val nested = orig.map(_.trim).reduceLeft((a, b) => s"geo_makeline($a, $b)")
            s = s.substring(0, m.start) + nested + s.substring(close + 1)
            changed = true
          } else arityMap.get((fn, args.length)).foreach { repl =>
            s = s.substring(0, m.start) + repl + s.substring(open)
            changed = true
          }
        }
      }
    }
    s
  }

  /** The reference's table functions (ST_MakeGrid / ST_MakeGridPoints /
    * ST_Explode return array-of-struct here) — `TABLE(f(..))` becomes a
    * subquery over `inline`, and `lateral table(..)` / `cross apply
    * table(..)` become LATERAL VIEWs appended after the FROM relations
    * (Spark's grammar puts lateral views at the end of the clause). */
  private def rewriteTvfs(sql: String): String = {
    val tvfRe = "(?i)(,\\s*lateral\\s+table|cross\\s+apply\\s+table|\\btable)\\s*\\(\\s*(geo_makegrid|geo_makegridpoints|geo_explode)\\s*\\(".r
    var s = sql
    var guard = 0
    var m0 = tvfRe.findFirstMatchIn(SqlText.mask(s))
    val laterals = scala.collection.mutable.ArrayBuffer.empty[String]
    while (m0.isDefined && guard < 50) {
      guard += 1
      val m = m0.get
      val kind = m.group(1).toLowerCase(Locale.ROOT)
      val fnOpen = m.end - 1
      val ms = SqlText.mask(s)
      val fnClose = SqlText.closeOf(ms, fnOpen)
      val tableOpen = ms.indexOf('(', m.start + m.group(1).length)
      val tableClose = SqlText.closeOf(ms, tableOpen)
      val call = s.substring(tableOpen + 1, tableClose).trim
      // optional alias after the closing paren: "as p" / "as t(geom, index)"
      val after = s.substring(tableClose + 1)
      val aliasRe = "(?is)^\\s*as\\s+(\\w+)\\s*(\\([^)]*\\))?".r
      val (alias, aliasCols, aliasLen) = aliasRe.findFirstMatchIn(after) match {
        case Some(am) => (am.group(1), Option(am.group(2)).getOrElse(""), am.end)
        case None => ("", "", 0)
      }
      if (kind == "table") {
        // plain FROM TABLE(f(..)) [as t(cols)] → (SELECT inline(f(..))) AS t(cols)
        val aliasSql = if (alias.isEmpty) "" else s" AS $alias$aliasCols"
        s = s.substring(0, m.start) + s"(SELECT inline($call))" + aliasSql +
          s.substring(tableClose + 1 + aliasLen)
      } else {
        // comma-lateral / cross apply → LATERAL VIEW appended later
        val lv = s" LATERAL VIEW inline($call) ${if (alias.isEmpty) s"lv$guard" else alias}"
        laterals += lv
        s = s.substring(0, m.start) + " " + s.substring(tableClose + 1 + aliasLen)
      }
      m0 = tvfRe.findFirstMatchIn(SqlText.mask(s))
    }
    if (laterals.nonEmpty) {
      // insert the lateral views at the end of the FROM clause: before
      // the first PAREN-DEPTH-0 WHERE / GROUP / ORDER / LIMIT, else at
      // the end (a subquery's own clauses sit at depth > 0)
      val masked = SqlText.mask(s)
      val tailRe = "(?i)\\b(where|group\\s+by|order\\s+by|limit|having)\\b".r
      val at = tailRe.findAllMatchIn(masked).find { m =>
        masked.substring(0, m.start).count(_ == '(') == masked.substring(0, m.start).count(_ == ')')
      }.map(_.start).getOrElse(s.length)
      s = s.substring(0, at) + laterals.mkString(" ") + " " + s.substring(at)
    }
    s
  }

  private def mapNames(sql: String): String = {
    val masked = SqlText.mask(sql)
    val re = "(?i)\\bST_[A-Za-z0-9]+\\b".r
    val sb = new StringBuilder
    var last = 0
    for (m <- re.findAllMatchIn(masked)) {
      val name = sql.substring(m.start, m.end).toUpperCase(Locale.ROOT)
      nameMap.get(name).foreach { mapped =>
        sb.append(sql.substring(last, m.start)).append(mapped)
        last = m.end
      }
    }
    sb.append(sql.substring(last)).toString
  }

  /** Any string literal whose content parses as WKT gets a
    * geo_fromtext(...) wrap — the engine's VARCHAR→GEOMETRY implicit
    * cast, made explicit. */
  private def wrapWktLiterals(sql: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (c == '\'') {
        var j = i + 1
        while (j < sql.length && sql.charAt(j) != '\'') j += 1
        val lit = sql.substring(i, math.min(j + 1, sql.length))
        val content = lit.stripPrefix("'").stripSuffix("'")
        if (wktStart.findFirstIn(content).isDefined)
          sb.append("geo_fromtext(").append(lit).append(")")
        else sb.append(lit)
        i = j + 1
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}

#!/usr/bin/env bash
# Pre-commit gate: no snapshot ships without one session builder and
# one optimizer-rule install point in src/main, one SQL text scanner
# (no scanner helper defined in graft/sql outside SqlText.scala) and one
# site driver (no hand-written fixpoint loop in the modules the front
# end's passes live in, no hand-written depth loop in the clause
# scanners that moved onto SqlText), one tile layout (every
# materialized-view partial column name is spelled in the layout
# definition only), a green compile, the front end's golden corpus
# (every pass fires on it and its outputs hold), the scanner's
# quoting/nesting checks, the
# spine parity spec's rule-list checks, the rule ablation (each graft
# rule changes at least one path's plan and no path's rows), the
# every-partial-kind tile round trip, the tile-fold job checks (one job stores a fold's generation; a
# join-tile append runs no job on the DML thread beyond its write), and
# a ten-query oracle smoke.
# Round 8 zeroed its artifacts by committing a non-compiling tree — this
# script makes that impossible to repeat.
#
# Usage: tools/precommit.sh [query,names]
#   (default smoke: q01,d36,ds10 and the tile-matching branches: the q150
#   join tile, q159 FK tile, q149 union residual, q151 join compensation,
#   q154 grouping sets, q160 FK residual and q164 FK join elimination)
set -euo pipefail
cd "$(dirname "$0")/.."

SMOKE="${1:-q01_pricing_summary,d36_temperature_mix,ds10_band_panel,q150_mv_join_rollup,q159_mv_fk_tile,q149_mv_union_rollup,q151_mv_snowflake_rollup,q154_mv_grouping_sets,q160_mv_fk_union,q164_fk_join_elim}"
SF="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.01}"
OUT=/tmp/precommit_verify

echo "[precommit] engine spine: one session builder, one rule install point..."
builders="$(grep -rn 'SparkSession\.builder()' src/main || true)"
if [ "$(printf '%s' "$builders" | grep -c .)" -gt 1 ]; then
  echo "more than one SparkSession.builder() in src/main; build through GraftSession.local:"
  echo "$builders"; exit 1
fi
assigns="$(grep -rnE 'extraOptimizations[[:space:]]*(\+\+|:\+)?=([^=]|$)' src/main \
  | grep -v '^src/main/scala/graft/GraftSession\.scala:' || true)"
if [ -n "$assigns" ]; then
  echo "extraOptimizations assigned outside GraftSession; call GraftSession.install:"
  echo "$assigns"; exit 1
fi

echo "[precommit] one SQL text scanner: scanner helpers live in sql/SqlText.scala only..."
scanners="$(grep -rnE 'def (splitTop[A-Za-z0-9_]*|closeParen|closeBracket|openParen[A-Za-z0-9_]*|primaryStart|depthBack|maskedReplace|literalEnd|topLevelIndex[A-Za-z0-9_]*)\b' \
  src/main/scala/graft/sql | grep -v '^src/main/scala/graft/sql/SqlText\.scala:' || true)"
if [ -n "$scanners" ]; then
  echo "SQL scanner helper defined outside SqlText; use the shared mask-side helper:"
  echo "$scanners"; exit 1
fi

echo "[precommit] one site driver: no fixpoint loop in the front end's pass modules..."
fixpoints="$(grep -nE 'while \((changed|go)\)' \
  src/main/scala/graft/sql/{GraftSql,SqlText,MeasureSql,WithinDistinctSql,GroupingSetsSql,WindowTvfSql,TypesSql,SubqueryRewrites,JsonAggSql,CollectionSql}.scala || true)"
if [ -n "$fixpoints" ]; then
  echo "hand-written splice fixpoint loop; walk the sites with SqlText.spliceEach:"
  echo "$fixpoints"; exit 1
fi

echo "[precommit] one depth scanner: no hand-written depth loop in the clause scanners..."
depths="$(grep -nE 'var depth\b' \
  src/main/scala/graft/sql/{ExcludeFrameSql,MeasureSql,Decorrelate,UnpivotTupleSql}.scala || true)"
if [ -n "$depths" ]; then
  echo "hand-written depth loop; use SqlText's topLevelIndex/topLevelMatches/clauseEnd/openOf:"
  echo "$depths"; exit 1
fi

echo "[precommit] one tile layout: partial column names live in the layout definition only..."
partials="$(grep -rnE '"__mv_(sum_|cntn_|min_|max_|hll_|cnt)' src/main \
  | grep -vE '^src/main/scala/graft/plans/MaterializedViews\.scala:[0-9]+:    val [A-Za-z]+ = Kind\("__mv_' || true)"
if [ -n "$partials" ]; then
  echo "partial column name spelled outside MaterializedViews' Kind definitions; read it from the tile definition:"
  echo "$partials"; exit 1
fi

echo "[precommit] sbt compile + Test/compile..."
sbt -batch compile Test/compile

echo "[precommit] spine parity: rule list (a) and entry points (b)..."
sbt -batch "testOnly graft.ExtensionsSpec -- -z (a) -z (b)"

echo "[precommit] rule ablation: every graft rule changes a plan, and no rows..."
sbt -batch "testOnly graft.RuleAblationSpec -- -z \"every graft rule changes at least one path\" -z \"rows are equal\""

echo "[precommit] tile folds: one job per stored generation, no DML-thread schema job..."
sbt -batch "testOnly graft.DmlLatticeSpec -- -z \"one materialization per fold\" -z \"no DML-thread job for the other leaves\""

echo "[precommit] tile layout: every partial kind keeps its stored layout end to end..."
sbt -batch "testOnly graft.MaterializedViewSpec -- -z \"every partial kind\""

echo "[precommit] front-end golden corpus: outputs hold and every pass fires..."
sbt -batch "testOnly graft.FrontEndGoldenSpec"

echo "[precommit] one scanner: quoted and bracketed text keeps its structure..."
sbt -batch "testOnly graft.GraftSqlSpec -- -z \"quoted and bracketed text keeps its structure\"" \
  "testOnly graft.ValidationSpec -- -z \"a comma inside a quoted select item\""

echo "[precommit] smoke verify: $SMOKE @ $SF"
rm -rf "$OUT"
CP="$(ls -d /opt/spark/jars/* | tr '\n' ':')target/scala-2.13/classes"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
java -cp "$CP" $OPENS -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC -Xmx8g \
  graft.Verify "$SF" "$OUT" "$SMOKE"

python3 tools/check.py "$SF" "$OUT" ${SMOKE//,/ }
echo "[precommit] OK — safe to commit"

package graft.textops

import graft.{Q, T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for large-scale training-data pipelines:
  * exact (hash groupBy), bag-of-words fingerprint, exact n-gram Jaccard
  * (explode + shingle join), and MinHash+LSH banding. The reference has
  * no dedup operators (profile/ProfilerImpl.java:34 sketches distinct
  * counts only) — these follow the standard MinHash/LSH construction
  * (Broder '97) expressed as Spark aggregations.
  *
  * Scale design: every stage is a shuffle on a high-cardinality key
  * (hash, shingle, band bucket). Nothing is O(n²) in the corpus — the
  * only pairwise work happens inside LSH buckets / shared-shingle
  * groups. Neither is tiny by default on natural language (stop-word
  * shingles like "one of the" appear in a large fraction of documents
  * and would create quadratic buckets), so BOTH candidate generators
  * are capped: d03 bounds band-bucket size, and the shingle inverted
  * index drops corpus-hot shingles (document frequency above
  * `ShingleDfCap`) before the self-join. The caps only gate CANDIDATE
  * generation — every candidate pair is then verified on its FULL
  * shingle sets, so reported Jaccard values are exact; a true pair is
  * missed only if every shingle it shares is corpus-hot, which a
  * jac ≥ 0.6 pair (mostly doc-specific shingles by definition) cannot
  * be.
  */
object Dedup {

  /** 3-word shingle set per document.
    *
    * Implemented as a typed mapPartitions rather than
    * transform/array_distinct: Catalyst higher-order functions are
    * interpreted (CodegenFallback), and the lambda chain measured ~8×
    * slower than this tight JVM loop at sf0.1. Semantics are identical
    * to the DuckDB oracle's `w[i]||' '||w[i+1]||' '||w[i+2]` over
    * 1-based indexes (the oracle hash-match in tools/check.py pins it).
    *
    * The corpus arrives as few large parquet files, so we repartition by
    * doc with an explicit count first (AQE would coalesce the byte-small
    * shuffle to one partition and serialize the CPU-heavy work). The
    * count is row-aware, 512 docs per task up to the full parallelism:
    * shingling and the 64-slot signature cost per row on short
    * documents, and byte-only sizing serialized the minhash pass onto 2
    * of 32 cores at sf0.1 (r15: a 270–325 ms signature stage). */
  private[graft] def docShingles(s: SparkSession, dir: String): DataFrame =
    shingleOf(s, T(s, dir, "documents"), T.sizedParts(s, dir, "documents", 512L))

  /** Same shingling over an arbitrary (doc_id, text, ...) relation —
    * callers that only need a SUBSET (e.g. candidate verification)
    * filter first so the per-doc compute is subset-bounded. */
  private[graft] def shingleOf(s: SparkSession, docs: DataFrame, parts: Int = 0): DataFrame = {
    import s.implicits._
    val parallelism = if (parts > 0) parts else s.sparkContext.defaultParallelism
    docs
      .select(col("doc_id"), col("text"))
      .repartition(parallelism, col("doc_id"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val w = text.split(' ')
        val ws =
          if (w.length >= 3) w.sliding(3).map(_.mkString(" ")).toArray.distinct
          else Array(null: String) // mirrors concat-with-null of the SQL form
        (id, ws)
      })
      .toDF("doc_id", "ws")
      .select(col("doc_id"), col("ws"), size(col("ws")).as("sz"))
  }

  /** Exact dedup: content-hash groupBy, keep the smallest doc_id — one
    * shuffle on the hash at any scale. */
  val d01_dedup_exact = Q(
    (s, dir) => {
      T(s, dir, "documents")
        .groupBy(md5(col("text").cast(BinaryType)).as("h"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("keep_id")
    },
    Some("""
      SELECT md5(text) AS h, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      FROM documents GROUP BY 1 ORDER BY keep_id"""))

  /** Fingerprint dedup: md5 over the sorted distinct token bag —
    * catches reorderings/near-identical token sets that exact hash
    * misses; still a single hash-shuffle. */
  val d02_fingerprint_dedup = Q(
    (s, dir) => {
      T(s, dir, "documents")
        .select(col("doc_id"),
          md5(concat_ws(" ", array_sort(array_distinct(split(lower(col("text")), " "))))
            .cast(BinaryType)).as("fp"))
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))
        .orderBy("keep_id")
    },
    Some("""
      SELECT fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_docs FROM (
        SELECT doc_id,
          md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS fp
        FROM documents) t
      GROUP BY fp ORDER BY keep_id"""))

  /** Shingles a pair-candidate generator may keep: document frequency
    * above this marks a shingle corpus-common (stop-word n-grams) —
    * such shingles connect a large doc set quadratically while carrying
    * no near-dup signal. Well above anything in the test corpora (max
    * df 25 at sf0.1), so the cap provably doesn't change results there;
    * at web scale it is the difference between a bucket join and an
    * accidental cross join. */
  private[graft] val ShingleDfCap = 1000

  /** Exact Jaccard pairs ≥ `threshold` from a (doc_id, ws, sz) shingle
    * relation — the shared engine behind d04/d15/d27/d29.
    *
    * Two stages: (1) CANDIDATES from the inverted shingle index with
    * corpus-hot shingles (df > maxDf) dropped — the hot set is the Zipf
    * head (small in practice, size-aware-joined so AQE broadcasts it
    * while it fits and shuffles beyond — never a forced broadcast);
    * (2) exact VERIFICATION of each distinct candidate pair on the full
    * shingle arrays, so the cap can never alter a reported value. */
  private[graft] def jaccardPairs(
      shingles: DataFrame, maxDf: Int, threshold: Double): DataFrame = {
    // r15 rewrite (guide §2.3/§8 — decide with small rows, never ship
    // the payload): the old verification attached the FULL shingle
    // arrays to every candidate pair (two joins whose build/stream rows
    // carry ~kB arrays, then array_intersect per pair) — at sf0.1 that
    // was 9.3 s, nearly all of it moving arrays for pairs that share one
    // stop-shingle. Intersection sizes are already IN the inverted
    // index: per-doc shingles are distinct, so |S_a ∩ S_b| = the number
    // of index rows the pair shares. The capped self-join therefore
    // aggregates its own pair counts (inter_cold) instead of discarding
    // them, and the few corpus-hot shingles the cap withheld are counted
    // back per candidate pair through keyed (doc, sh) joins — never a
    // hot-bucket self-join, so the cap still bounds the quadratic work.
    // Only 16-byte pair rows and 8-byte counts ever shuffle; results are
    // bit-identical (integer counts, same final double division).
    // r16: ONE exchange above the explode, keyed on the shingle, that
    // every consumer reuses. Shingling is a typed mapPartitions, which
    // sits ABOVE the scan exchange — so each plan branch that read the
    // shingle relation re-ran the CPU-heavy shingling (the executed r15
    // plan shows 3 MapPartitions evaluations: the inverted index, the
    // self-join's build side, and the sizes branch). Repartitioning the
    // EXPLODED rows by `sh` makes the df aggregate, the anti/semi hot
    // joins and BOTH self-join sides consume one AQE-reused exchange
    // with no further shuffle (hashpartitioning(sh) satisfies each), so
    // the corpus is shingled once and the exploded strings cross the
    // network once instead of twice. Sizes are aggregated off the same
    // exchange (sz rides the exploded rows; every doc emits >= 1 row).
    // the explicit isnotnull matches the filter the self-join infers on
    // its keys — without it the sizes branch (which doesn't join on sh)
    // gets a filterless copy of the subtree and AQE cannot reuse the
    // exchange. Dropping null shingles changes nothing: a null never
    // equi-joins, and the short-doc sentinel rows they come from can
    // never appear in a pair (pairs need a shared real shingle).
    val ex = shingles
      .select(col("doc_id"), explode(col("ws")).as("sh"))
      .filter(col("sh").isNotNull)
      .repartition(col("sh"))
    // Document frequency per shingle as a WINDOW over the shared
    // exchange (partitionBy(sh) is satisfied by the repartition, so no
    // further shuffle): df-filtering by window keeps every consumer's
    // input projection IDENTICAL — (doc_id, sh) — which is what lets
    // AQE reuse the one exchange everywhere. A separate groupBy-based
    // hot list would prune to (sh) below its exchange and fork a second
    // shingle+explode evaluation (observed in the executed plan). The
    // window's local sort on sh also pre-orders both self-join sides.
    val wdf = ex.withColumn("df", count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("sh"))))
    val cold = wdf.filter(col("df") <= maxDf).select(col("doc_id"), col("sh"))
    // candidate pairs + their cold-shingle intersection count in ONE
    // aggregation over the capped self-join
    val pairsCold = cold.select(col("doc_id").as("doc_a"), col("sh"))
      .join(cold.select(col("doc_id").as("doc_b"), col("sh")), Seq("sh"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter_cold"))
    // hot-shingle membership is the Zipf head: count, per candidate
    // pair, the hot shingles BOTH docs contain — keyed joins only
    val memHot = wdf.filter(col("df") > maxDf).select(col("doc_id"), col("sh"))
    val interHot = pairsCold.select(col("doc_a"), col("doc_b"))
      .join(memHot.select(col("doc_id").as("doc_a"), col("sh")), Seq("doc_a"))
      .join(memHot.select(col("doc_id").as("doc_b"), col("sh")), Seq("doc_b", "sh"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter_hot"))
    // per-doc shingles are distinct, so |S_d| = d's row count in ex;
    // count(sh) (not count(*)) keeps sh referenced so the projection —
    // and therefore the reused exchange — stays identical to the join
    // branches'. Only docs appearing in pairs are ever looked up, and
    // those always have real shingle sets, so sz == size(ws) exactly.
    val sizes = ex.groupBy(col("doc_id"))
      .agg(count(col("sh")).as("sz"))
    pairsCold
      .join(interHot, Seq("doc_a", "doc_b"), "left")
      .withColumn("inter", col("inter_cold") + coalesce(col("inter_hot"), lit(0L)))
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), Seq("doc_b"))
      .withColumn("jac",
        col("inter").cast(DoubleType) / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jac") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jac"))
  }

  /** Exact n-gram Jaccard near-dup pairs via the capped shingle inverted
    * index + full-set verification (jaccardPairs). */
  val d04_jaccard_pairs = Q(
    (s, dir) => jaccardPairs(docShingles(s, dir), ShingleDfCap, 0.6)
      .orderBy("doc_a", "doc_b"),
    Some(jaccardOracle))

  /** Per-document 64-slot MinHash signature, computed in ONE typed pass
    * per document: each shingle is xxhash64'd once
    * (seed 42, Spark's default — `XXH64.hashUTF8String`) and the
    * 64-member family is the standard one-hash affine construction
    * (slot i takes `a_i*h + b_i`, `a_i` odd — [[MinHashPerm]]), taking
    * running minimums. One strong hash + 64 multiply-adds per shingle
    * instead of 64 full mixers; the banding guarantees are those of any
    * pairwise-independent permutation family, and the emitted pairs are
    * exact-Jaccard verified regardless. Short-doc edge: a doc with no
    * 3-gram degenerates to signature (0..63). Computed typed, not
    * declarative, to avoid materializing the ~200×-larger
    * (doc, shingle-hash) relation through a shuffle and a 64-column
    * hash aggregate — measured ~2.5× faster at sf0.1. The shingle
    * arrays themselves are NOT kept (they'd be ~4× the text bytes
    * through a checkpoint): d03 re-shingles only its candidate docs for
    * verification, which at any scale is cheaper than materializing a
    * corpus-sized shingle relation. */
  private[graft] def docShinglesSig(s: SparkSession, dir: String, nHash: Int): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.types.UTF8String
    T(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .repartition(T.sizedParts(s, dir, "documents", 512L), col("doc_id"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val w = text.split(' ')
        val sig = new Array[Long](nHash)
        if (w.length < 3) {
          var i = 0
          while (i < nHash) { sig(i) = i.toLong; i += 1 } // no 3-gram -> seed
        } else {
          java.util.Arrays.fill(sig, Long.MaxValue)
          // hash every word ONCE, combine per trigram - no shingle
          // strings, no mkString allocations; duplicate shingles can't
          // change a MIN, so no distinct either
          val wh = new Array[Long](w.length)
          var i = 0
          while (i < w.length) {
            wh(i) = XXH64.hashUTF8String(UTF8String.fromString(w(i)), 42L)
            i += 1
          }
          var k = 0
          while (k + 2 < w.length) {
            val h = XXH64.hashLong(wh(k + 2), XXH64.hashLong(wh(k + 1), wh(k)))
            var j = 0
            while (j < nHash) {
              val hj = MinHashPerm.a(j) * h + MinHashPerm.b(j)
              if (hj < sig(j)) sig(j) = hj
              j += 1
            }
            k += 1
          }
        }
        (id, sig)
      })
      .toDF("doc_id", "sig")
  }

  /** MinHash + LSH banding near-dup detection: 64 deterministic hash
    * functions (xxhash64 seeded by slot), 32 bands × 2 rows, candidate
    * pairs from shared band buckets, then exact-Jaccard verification of
    * candidates only. Output = verified pairs ≥ 0.6, so the oracle is
    * the same exact pairwise Jaccard (the planted near-dups are ≥ 0.8;
    * P[band miss] < 1e-14 and the hash family is fixed, so the result
    * is deterministic). */
  val d03_minhash_lsh = Q(
    (s, dir) => {
      val nHash = 64
      val nBands = 32 // 2 rows per band
      // SIGNATURES ONLY feed the banding: the shingle arrays (≈4× the
      // text bytes) never materialize corpus-wide — no checkpoint IO.
      // Verification below re-shingles just the candidate docs, a
      // second parquet scan whose shingling work is candidate-bounded
      // (candidates << corpus at any scale, so scan + tiny compute
      // beats writing/reading a corpus-sized shingle relation).
      val ds = docShinglesSig(s, dir, nHash).select(col("doc_id"), col("sig"))
      val bands = ds.select(col("doc_id"),
        posexplode(array((0 until nBands).map(j =>
          xxhash64(lit(1000 + j),
            element_at(col("sig"), 2 * j + 1), element_at(col("sig"), 2 * j + 2))): _*))
          .as(Seq("band_id", "bh")))
      // candidate pairs: docs sharing a (band_id, band_hash) bucket.
      // array-sorted bucket + slice-pairing keeps work inside each bucket;
      // a degenerate hot bucket is capped (documented deviation). A
      // count-filter + bucket-key self-join variant (which would cap hot
      // buckets BEFORE materializing them) measured ~20% slower here —
      // two extra shuffle stages — so the single-aggregate shape stays;
      // at a skewed 100TB corpus, swap in the count-prefilter first.
      val buckets = bands.groupBy(col("band_id"), col("bh"))
        .agg(array_sort(collect_set(col("doc_id"))).as("ids"))
        .filter(size(col("ids")).between(2, 1000))
      val cand = buckets
        .select(explode(expr(
          """flatten(transform(ids, (a, i) ->
               transform(slice(ids, i + 2, size(ids)), b -> struct(a AS doc_a, b AS doc_b))))"""))
          .as("p"))
        .select(col("p.doc_a"), col("p.doc_b")).distinct()
      // exact verification on candidates only: semi-join the corpus down
      // to candidate docs (size-aware — AQE broadcasts the pair set
      // while it is tiny, shuffles if near-dup density ever grows it),
      // THEN shingle just those docs
      // no .distinct() on the probe ids (r15): LEFT SEMI keeps a doc on
      // ≥1 build-side match regardless of duplicates, so deduplicating
      // here only added a full exchange + aggregate stage for the same
      // result. The build side stays ≤ 2·|cand| ids — still tiny.
      val candDocs = cand.select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      // explicit parts (r15): sized like the signature pass — candidates
      // are a subset of the corpus, and the byte-based default let AQE
      // serialize this per-row CPU stage onto ~2 tasks (measured
      // 157–237 ms re-shingle stage at sf0.1).
      // .repartition(doc_id) ABOVE the shingling (r16): both verification
      // joins consume `sets` (as ws_a and ws_b), and without an exchange
      // boundary over the mapPartitions each branch re-shingled the
      // candidates (2 MapPartitions in the executed plan). The exchange
      // is candidate-bounded and AQE-reused by both join sides, so the
      // candidate docs are shingled exactly once.
      val sets = Dedup.shingleOf(s,
        T(s, dir, "documents").join(candDocs, Seq("doc_id"), "left_semi"),
        T.sizedParts(s, dir, "documents", 512L))
        .repartition(col("doc_id"))
      cand
        .join(sets.select(col("doc_id").as("doc_a"), col("ws").as("ws_a"), col("sz").as("sz_a")), Seq("doc_a"))
        .join(sets.select(col("doc_id").as("doc_b"), col("ws").as("ws_b"), col("sz").as("sz_b")), Seq("doc_b"))
        .withColumn("inter", size(array_intersect(col("ws_a"), col("ws_b"))))
        .withColumn("jac",
          col("inter").cast(DoubleType) / (col("sz_a") + col("sz_b") - col("inter")))
        .filter(col("jac") >= 0.6)
        .select(col("doc_a"), col("doc_b"), col("jac"))
        .orderBy("doc_a", "doc_b")
    },
    Some(jaccardOracle))

  /** 60-bit SimHash per document (Charikar '02): per-token hash,
    * bit-vote aggregation, sign → fingerprint. The token hash family is
    * the top 60 bits of md5 (engine-portable), so the fingerprints are
    * value-checked against a DuckDB oracle computing the identical
    * votes via a range(60) lateral. */
  val d05_simhash = Q(
    (s, dir) => {
      val bits = 60
      val tokens = T(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .select(col("doc_id"),
          expr("CAST(conv(substring(md5(w), 1, 15), 16, 10) AS BIGINT)").as("h"))
      // per bit: vote +1 if bit set else -1; sum votes; bit = vote > 0
      val voteCols = (0 until bits).map { i =>
        sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v_$i")
      }
      val votes = tokens.groupBy(col("doc_id")).agg(voteCols.head, voteCols.tail: _*)
      votes.select(col("doc_id"),
        (0 until bits).map(i => when(col(s"v_$i") > 0, shiftleft(lit(1L), i)).otherwise(0L))
          .reduce(_.bitwiseOR(_)).as("simhash"))
        .orderBy("doc_id")
    },
    Some("""
      WITH tok AS (
        SELECT doc_id, CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) AS h
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) t
        WHERE w <> ''),
      votes AS (
        SELECT doc_id, CAST(i AS INT) AS i,
          SUM(CASE WHEN (h >> CAST(i AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
        FROM tok, range(60) r(i) GROUP BY doc_id, i)
      SELECT doc_id,
        CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id ORDER BY doc_id"""))

  private lazy val jaccardOracle: String = """
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      w AS (SELECT doc_id,
              list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                             for i in range(1, greatest(len(w) - 2, 1) + 1)]) AS ws
            FROM t)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) /
          (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))) AS jac
      FROM w a JOIN w b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) /
          (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))) >= 0.6
      ORDER BY doc_a, doc_b"""

  /** Near-duplicate CLUSTERING: connected components over the exact
    * Jaccard pair graph (d04's relation), with the component's minimum
    * doc_id as the canonical representative — the step that turns
    * pairwise near-dup hits into keep/drop decisions in a training
    * pipeline.
    *
    * r16 rewrite (guide §2.4 — do fewer shuffles, iterate over less):
    * propagation runs over the PAIR-GRAPH VERTICES only, not the corpus.
    * A doc with no near-dup edge keeps component = doc_id by
    * construction, so the old corpus-sized label relation paid a full
    * join + aggregate over every document per round for rows that could
    * never change; near-dup docs are a small fraction of any corpus, so
    * each round now touches only the subgraph, and ONE final
    * broadcast-sized left join stamps the components onto the corpus.
    * Each round is min-of-neighbors label propagation PLUS pointer
    * doubling (component ← component[component], the union-find
    * "shortcut" step), so convergence takes O(log diameter) rounds
    * instead of O(diameter); the convergence count rides the
    * checkpointed frame instead of re-joining the previous labels.
    * Lineage is cut per round with an eager localCheckpoint so the plan
    * stays flat at any iteration count. Oracle: DuckDB transitive
    * closure via WITH RECURSIVE + MIN over the reachable set. */
  val d15_neardup_components = Q(
    (s, dir) => {
      val pairs = jaccardPairs(docShingles(s, dir), ShingleDfCap, 0.6)
        .select(col("doc_a"), col("doc_b"))
      val edges = pairs
        .union(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
        .localCheckpoint(true)
      // vertices of the pair graph (symmetric, so doc_a covers both
      // ends), seeded straight to min(self, neighbors) — the same
      // aggregation a distinct would cost, but it folds the first
      // propagation round into the init, so most corpora (near-dup
      // components are near-cliques) converge in a single loop round.
      var labels = edges.groupBy(col("doc_a").as("doc_id"))
        .agg(min(least(col("doc_b"), col("doc_a"))).as("component"))
        .localCheckpoint(true)
      var changed = 1L
      while (changed > 0) {
        val nbrMin = edges
          .join(labels, col("doc_a") === col("doc_id"))
          .groupBy(col("doc_b").as("nid"))
          .agg(min(col("component")).as("nbr_min"))
        // every vertex has >= 1 edge, so the join is inner; labels only
        // ever hold ids of vertices IN the graph, so the shortcut lookup
        // (component -> that vertex's component) always hits.
        val prop = labels
          .join(nbrMin, col("doc_id") === col("nid"))
          .select(col("doc_id"),
            least(col("component"), col("nbr_min")).as("component"),
            (col("nbr_min") < col("component")).as("chg"))
          .localCheckpoint(true) // the shortcut self-joins this frame
        changed = prop.filter(col("chg")).count()
        labels =
          if (changed == 0) prop.drop("chg") // fixpoint: labels constant
          // per component already, so the shortcut would be the identity
          else prop
            .join(prop.select(col("doc_id").as("cid"), col("component").as("c2")),
              col("component") === col("cid"), "left")
            .select(col("doc_id"),
              coalesce(col("c2"), col("component")).as("component"))
            .localCheckpoint(true)
      }
      // Stamp components onto the corpus. The checkpointed labels frame
      // has no stats (LogicalRDD defaults to "huge"), so the planner
      // would sort-merge-join — a full corpus shuffle. Labels are
      // MATERIALIZED here, so decide from the real count: broadcast
      // while the vertex set is broadcast-sized, shuffle only beyond
      // (size-aware, not a blind hint).
      val compMap = labels.withColumnRenamed("doc_id", "vid")
      val sized =
        if (labels.count() <= 5000000L) broadcast(compMap) else compMap
      T(s, dir, "documents").select(col("doc_id"))
        .join(sized, col("doc_id") === col("vid"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("component"))
        .withColumn("is_canonical", col("doc_id") === col("component"))
        .orderBy("doc_id")
    },
    Some("""
      WITH RECURSIVE
      t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      w AS (SELECT doc_id,
              list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                             for i in range(1, greatest(len(w) - 2, 1) + 1)]) AS ws
            FROM t),
      p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM w a JOIN w b ON a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) /
                (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))) >= 0.6),
      e AS (SELECT doc_a AS a, doc_b AS b FROM p
            UNION ALL SELECT doc_b, doc_a FROM p),
      reach(a, b) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a)
      SELECT a AS doc_id, MIN(b) AS component, a = MIN(b) AS is_canonical
      FROM reach GROUP BY a ORDER BY doc_id"""))

  val all: Map[String, Q] = Map(
    "d01_dedup_exact" -> d01_dedup_exact,
    "d02_fingerprint_dedup" -> d02_fingerprint_dedup,
    "d03_minhash_lsh" -> d03_minhash_lsh,
    "d04_jaccard_pairs" -> d04_jaccard_pairs,
    "d05_simhash" -> d05_simhash,
    "d15_neardup_components" -> d15_neardup_components)
}

/** Fixed affine permutation family for the one-hash minhash signature:
  * a_i odd (a bijection on Z/2^64), b_i arbitrary, both derived from a
  * split-mix style expansion of the slot index so signatures are
  * deterministic across runs and executors. */
private[textops] object MinHashPerm {
  private val N = 64
  val a: Array[Long] = Array.tabulate(N) { i =>
    org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(i.toLong, 0x9e3779b97f4a7c15L) | 1L
  }
  val b: Array[Long] = Array.tabulate(N) { i =>
    org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(i.toLong, 0x2545f4914f6cdd1dL)
  }
}

package graft.data

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication for training-data pipelines: exact (hash groupBy),
  * n-gram Jaccard, MinHash+LSH, SimHash. Designed for the 100 TB case:
  * every method is candidate-generation-by-bucketing (shuffle on a short
  * key) followed by within-bucket verification — never an all-pairs join,
  * and never an unbounded within-bucket pair blowup (see [[candidatePairs]]).
  *
  * Every hash is md5-derived ([[md5Hash64]]): 60-bit values DuckDB
  * reproduces bit-for-bit (`CAST('0x' || substr(md5(x),1,15) AS BIGINT)`),
  * so the LSH pipelines are END-TO-END oracle-checkable, not rows-only.
  */
object Dedup {

  /** 2^60-bounded integer hash computable identically in Spark and DuckDB.
    * Spark side: the codegen Md5Long (digest bytes → long, no hex-string
    * round-trip; bit-identical to `conv(substring(md5(c),1,15),16,10)`,
    * equivalence test-locked); the oracle keeps the SQL form below.
    */
  def md5Hash64(c: Column): Column = graft.functions.Md5Long.of(c)

  def md5Hash64Sql(e: String): String =
    s"CAST('0x' || substr(md5($e), 1, 15) AS BIGINT)"

  /** Universal-hash family h_i(x) = (A_i·x + B_i) mod P over md5-bounded
    * inputs: ONE md5 per shingle, k cheap affine variants (standard MinHash
    * practice; k md5s per shingle would dominate the scan). P < 2^30 keeps
    * every product < 2^60 — no int64 overflow under ANSI mode.
    */
  val P: Long = 1000000007L
  def hashA(k: Int): Seq[Long] = (0 until k).map(i => (2L * i + 1) * 104729L % P)
  def hashB(k: Int): Seq[Long] = (0 until k).map(i => (i + 1) * 179424673L % P)

  /** Deterministic corpus-with-duplicates: the driver's `documents` table
    * plus planted exact copies (doc_id%10==0 → +100000) and near-dup
    * copies (doc_id%10==1 → +200000, one token appended). SQL-expressible,
    * so dedup outputs stay oracle-checkable.
    */
  def withPlantedDups(docs: DataFrame): DataFrame = {
    val exact = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars"))
    val near = docs.filter(col("doc_id") % 10 === 1)
      .select((col("doc_id") + 200000).as("doc_id"),
        concat(col("text"), lit(" appended")).as("text"),
        col("lang"), col("source"), col("n_chars"))
    docs.select("doc_id", "text", "lang", "source", "n_chars")
      .unionByName(exact).unionByName(near)
  }

  /** DuckDB CTE for the identical planted corpus (keep in lockstep). */
  val plantedSql: String =
    """SELECT doc_id, text FROM documents
       UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
       UNION ALL SELECT doc_id + 200000, text || ' appended' FROM documents WHERE doc_id % 10 = 1"""

  // -------------------------------------------------------------------
  // Exact dedup: hash-groupBy on content digest; keep first, count copies
  // -------------------------------------------------------------------
  def exactDedup(docs: DataFrame): DataFrame =
    withPlantedDups(docs)
      .groupBy(md5(col("text")).as("content_md5"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_doc_id"))

  // -------------------------------------------------------------------
  // n-gram Jaccard: 3-word shingles, set intersection/union
  // -------------------------------------------------------------------
  def shingles(text: Column, n: Int = 3): Column =
    // codegen n-gram loop (graft.functions.NGramJoin): element-identical to
    // array_distinct(transform(sequence(0, greatest(size-n, 0)),
    //   i => array_join(slice(words, i+1, n), " "))) — the interpreted HOF
    // chain was the single largest cost of the MinHash signature pass
    graft.functions.NGramJoin.of(split(text, " "), n)

  /** DuckDB expression producing the identical shingle list for column `c`. */
  def shinglesSql(c: String, n: Int = 3): String =
    s"""list_distinct(list_transform(
       range(greatest(len(string_split($c, ' ')) - $n, 0) + 1),
       i -> array_to_string(string_split($c, ' ')[i+1:i+$n], ' ')))"""

  /** Hashed n-grams WITHOUT materializing shingle strings: one hash per
    * WORD, then a bounded Horner combination per n-gram — at corpus scale
    * the n-gram string build (slice + join + allocate per position)
    * dominates the scan, while this is pure long arithmetic over a
    * once-hashed word array. All operands < P < 2^30, every product
    * < 2^47 — ANSI-safe. Missing trailing words (docs shorter than n) hash
    * as 0 on both engines — via `get()` (0-based, null past the end), NOT
    * `element_at`, which THROWS out-of-bounds under Spark 4's default ANSI
    * mode before coalesce ever sees a null. Word hashes are md5-derived,
    * which the DuckDB oracle reproduces bit-for-bit.
    */
  val ShingleA = 104729L

  /** One bounded hash per word. MUST be materialized as its own column
    * (its own projection) before [[shingleHashesFromWords]] reads it — a
    * lambda that references this expression through element_at re-evaluates
    * the ENTIRE word-hash transform per element (n× per shingle position:
    * quadratic md5 work; measured 2.5 s → 50 s at sf0.1).
    */
  def wordHashes(text: Column): Column =
    transform(split(text, " "), w => pmod(md5Hash64(w), lit(P)))

  /** Bounded-Horner n-gram hashes over a MATERIALIZED word-hash column —
    * the codegen NGramHash loop; element-identical to
    * `array_distinct(transform(sequence(0, greatest(size(wh)-n, 0)),
    * i => fold (acc*ShingleA + coalesce(get(wh,i+k), 0)) % P))`
    * (equivalence test-locked, and the DuckDB oracle replicates the list).
    */
  def shingleHashesFromWords(wh: Column, n: Int = 3): Column =
    graft.functions.NGramHash.of(wh, n, ShingleA, P)

  /** DuckDB mirror of [[shingleHashesFromWords]] given a
    * word-hash list column named `wh`.
    */
  def shingleHashesSql(n: Int = 3): String = {
    val horner = (0 until n).foldLeft("CAST(0 AS BIGINT)")((acc, k) =>
      s"(($acc) * $ShingleA + COALESCE(wh[CAST(i AS INT)+${k + 1}], 0)) % $P")
    s"""list_distinct(list_transform(
       range(greatest(len(wh) - $n, 0) + 1), i -> $horner))"""
  }

  /** The word-hash list feeding [[shingleHashesSql]], for column `c`. */
  def wordHashesSql(c: String): String =
    s"list_transform(string_split($c, ' '), w -> ${md5Hash64Sql("w")} % $P)"

  /** Jaccard similarity of planted near-dup pairs (candidates here come
    * from the planted id mapping; at scale candidates come from the LSH
    * bucketing below). Integer sizes + one exact division → no
    * float-compare hazards.
    */
  def ngramJaccardPairs(docs: DataFrame): DataFrame = {
    val all = withPlantedDups(docs)
    val a = all.filter(col("doc_id") < 100000)
      .select(col("doc_id").as("a_id"), shingles(col("text")).as("a_sh"))
    val b = all.filter(col("doc_id") >= 200000)
      .select((col("doc_id") - 200000).as("a_id"), col("doc_id").as("b_id"),
        shingles(col("text")).as("b_sh"))
    a.join(b, "a_id").select(
      col("a_id"), col("b_id"),
      size(array_intersect(col("a_sh"), col("b_sh"))).as("n_common"),
      size(array_union(col("a_sh"), col("b_sh"))).as("n_union"),
      (size(array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
        size(array_union(col("a_sh"), col("b_sh")))).as("jaccard"))
  }

  // -------------------------------------------------------------------
  // Bounded within-bucket pair generation (shared by MinHash-LSH + SimHash)
  // -------------------------------------------------------------------
  /** Candidate pairs from bucketed rows `(doc_id, band, bucket)`, BOUNDED:
    * buckets of ≤ maxBucket members enumerate pairs (≤ maxBucket·B total);
    * degenerate buckets (boilerplate corpora put thousands of docs in one
    * bucket — guaranteed at 100 TB) fall back to STAR pairs against the
    * min-id representative — linear in bucket size, and the cluster root
    * still links every member for dedup-keep purposes.
    */
  def candidatePairs(banded: DataFrame, maxBucket: Int = 64): DataFrame = {
    val w = Window.partitionBy(col("band"), col("bucket"))
    val sized = banded.select(col("doc_id"), col("band"), col("bucket"))
      .withColumn("bsz", count(lit(1)).over(w))
      .withColumn("rep", min(col("doc_id")).over(w))
    val small = sized.filter(col("bsz") <= maxBucket)
      .select(col("doc_id"), col("band"), col("bucket"))
    val pairsSmall = small.as("l").join(small.as("r"), Seq("band", "bucket"))
      .filter(col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a_id"), col("r.doc_id").as("b_id"))
    val pairsBig = sized.filter(col("bsz") > maxBucket && col("doc_id") =!= col("rep"))
      .select(col("rep").as("a_id"), col("doc_id").as("b_id"))
    pairsSmall.unionByName(pairsBig).distinct()
  }

  /** DuckDB replication of [[candidatePairs]] given a CTE named `banded`. */
  def candidatePairsSql(maxBucket: Int = 64): String =
    s"""sized AS (
         SELECT doc_id, band, bucket,
           COUNT(*) OVER (PARTITION BY band, bucket) AS bsz,
           MIN(doc_id) OVER (PARTITION BY band, bucket) AS rep
         FROM banded
       ), pairs AS (
         SELECT l.doc_id AS a_id, r.doc_id AS b_id
         FROM sized l JOIN sized r
           ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
         WHERE l.bsz <= $maxBucket
         UNION
         SELECT rep AS a_id, doc_id AS b_id FROM sized
         WHERE bsz > $maxBucket AND doc_id <> rep
       )"""

  // -------------------------------------------------------------------
  // Eval-set contamination: n-gram overlap between corpus and eval docs
  // -------------------------------------------------------------------
  /** Benchmark-contamination check — the pre-training gate that finds
    * training docs sharing verbatim n-grams with an eval/benchmark set.
    *
    * Scale shape: the EVAL side is small by construction (benchmarks are
    * thousands of docs, the corpus is billions), so its exploded shingle
    * table broadcasts; the corpus side is ONE scan + explode + broadcast
    * hash join — no corpus-wide shuffle. The only exchange is the final
    * (doc, eval) pair aggregate, whose cardinality is bounded by actual
    * contamination, not corpus size. Counts count DISTINCT shared shingles
    * (shingles() already dedups per doc, so a plain count is distinct).
    *
    * Output: (doc_id, eval_id, n_shared) for pairs sharing ≥ `minShared`
    * n-grams.
    */
  def contamination(docs: DataFrame, evalDocs: DataFrame, n: Int = 3,
                    minShared: Int = 2): DataFrame = {
    // join on hashed n-grams ([[shingleHashes]]): the corpus probe side
    // carries 8 bytes/row instead of n-gram text, the broadcast table
    // hashes longs, and no shingle string is ever built. The hash IS the
    // n-gram identity here (mod-P collisions conflate a pair's grams with
    // probability ~|grams|²/P per pair) — the oracle replicates the
    // identical md5 hash math, so the check is exact.
    val corpus = docs
      .select(col("doc_id"), wordHashes(col("text")).as("wh"))
      .select(col("doc_id"), explode(shingleHashesFromWords(col("wh"), n)).as("sh"))
    val eval = evalDocs
      .select(col("doc_id").as("eval_id"), wordHashes(col("text")).as("wh"))
      .select(col("eval_id"), explode(shingleHashesFromWords(col("wh"), n)).as("sh"))
    // broadcast gate: eval sets are benchmark-sized BY CONTRACT, but the
    // hint must not be unconditional — a caller handing a corpus-
    // proportional "eval" relation (contaminationEvalSplit is exactly
    // that demo wiring) would force a driver/executor OOM at scale where
    // a shuffle join degrades gracefully. Gate on the planner's size
    // estimate of the un-exploded eval relation (free — no extra job):
    // under the cap, pin the broadcast (estimates after filters are
    // unreliable and the map-side join is the whole point); over it,
    // leave the strategy to AQE's runtime sizes.
    val evalBytes = evalDocs.queryExecution.optimizedPlan.stats.sizeInBytes
    val evalSide = if (evalBytes <= BigInt(256L << 20)) broadcast(eval) else eval
    corpus.join(evalSide, Seq("sh"))
      .groupBy(col("doc_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** The deterministic eval-set carve-out used by `q_doc_contamination`:
    * every 97th doc plays the benchmark (ids are disjoint from the planted
    * +100k/+200k dup ranges, so overlaps are genuine text overlaps).
    */
  def contaminationEvalSplit(docs: DataFrame): (DataFrame, DataFrame) = {
    val eval = docs.filter(col("doc_id") % 97 === 3)
    val train = withPlantedDups(docs).join(eval.select("doc_id"), Seq("doc_id"), "left_anti")
    (train, eval)
  }

  /** DuckDB replication of the contamination check over the same carve-out
    * — the oracle for `q_doc_contamination`.
    */
  def contaminationOracleSql(n: Int = 3, minShared: Int = 2): String =
    s"""WITH planted AS ($plantedSql),
       ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 3),
       train AS (SELECT * FROM planted WHERE doc_id NOT IN (SELECT doc_id FROM ev)),
       cwh AS (SELECT doc_id, ${wordHashesSql("text")} AS wh FROM train),
       ewh AS (SELECT doc_id AS eval_id, ${wordHashesSql("text")} AS wh FROM ev),
       csh AS (SELECT doc_id, UNNEST(${shingleHashesSql(n)}) AS sh FROM cwh),
       esh AS (SELECT eval_id, UNNEST(${shingleHashesSql(n)}) AS sh FROM ewh)
       SELECT c.doc_id, e.eval_id, COUNT(*) AS n_shared
       FROM csh c JOIN esh e USING (sh)
       GROUP BY c.doc_id, e.eval_id
       HAVING COUNT(*) >= $minShared"""

  // -------------------------------------------------------------------
  // MinHash + LSH: shingle → k minhashes → b bands → bucket-join
  // -------------------------------------------------------------------
  /** k minhash signatures per doc, banded into b buckets of r rows;
    * docs sharing any band bucket are candidates. Shuffle cost: one
    * explode(b) + window over (band,bucket) — linear in corpus size, never
    * all-pairs. (Standard MinHash-LSH; Broder '97.)
    */
  def minHashSignature(text: Column, k: Int): Column = {
    // ONE md5 per shingle; the k-minima fold is the codegen MinHashSig
    // expression (the HOF fold rebuilt a k-element accumulator array per
    // shingle, interpreted) — identical affine-family math, oracle-locked
    val hs = transform(shingles(text), s => pmod(md5Hash64(s), lit(P)))
    graft.functions.MinHashSig.of(hs, hashA(k), hashB(k), P)
  }

  /** Banded rows `(doc_id, band, bucket)`; the bucket key is the band's
    * signature slice rendered as a string (no second hash — keeps the
    * buckets engine-identical; the shuffle key is ≤ r·20 chars).
    */
  def minHashBanded(docs: DataFrame, k: Int = 16, bands: Int = 4): DataFrame = {
    val r = k / bands
    withPlantedDups(docs)
      .select(col("doc_id"), minHashSignature(col("text"), k).as("sig"))
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band"),
            concat_ws(",", slice(col("sig"), b * r + 1, lit(r))).as("bucket"))))
          .as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bucket"))
  }

  def minHashLshCandidates(docs: DataFrame, k: Int = 16, bands: Int = 4,
                           maxBucket: Int = 64): DataFrame =
    candidatePairs(
      // self-join inside candidatePairs would otherwise recompute signatures
      minHashBanded(docs, k, bands)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      maxBucket)

  /** LSH candidates verified by true Jaccard ≥ threshold.
    *
    * Cache envelope: the verify joins read shingle arrays for CANDIDATE
    * docs only — a left-semi join on the bounded pair list gates the
    * (re-)shingling, so the persisted state is candidate-scale, never
    * corpus-scale×k (at 100 TB a corpus-wide shingle cache would be the
    * largest allocation in the pipeline; candidates are linear and capped
    * by maxBucket).
    */
  def minHashDedupPairs(docs: DataFrame, threshold: Double = 0.8): DataFrame = {
    val cands = minHashLshCandidates(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ids = cands.select(col("a_id").as("doc_id"))
      .union(cands.select(col("b_id").as("doc_id"))).distinct()
    val all = withPlantedDups(docs)
      .join(ids, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), shingles(col("text")).as("sh"))
      // both verify joins read this — shingle the candidate set once
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cands
      .join(all.select(col("doc_id").as("a_id"), col("sh").as("a_sh")), "a_id")
      .join(all.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), "b_id")
      .withColumn("jaccard",
        size(array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
          size(array_union(col("a_sh"), col("b_sh"))))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** Full DuckDB replication of the MinHash-LSH dedup pipeline —
    * the oracle for `q_doc_minhash_pairs`.
    */
  def minHashOracleSql(k: Int = 16, bands: Int = 4, threshold: Double = 0.8,
                       maxBucket: Int = 64): String =
    s"""WITH ${minHashPairCtes(k, bands, threshold, maxBucket)}
       SELECT a_id, b_id, jaccard FROM dup_pairs"""

  /** The CTE list reproducing the pipeline up to a `dup_pairs`
    * relation (verified pairs at `threshold`) — shared by the pair oracle
    * and the cluster oracles, so all three check the SAME pair graph.
    */
  def minHashPairCtes(k: Int = 16, bands: Int = 4, threshold: Double = 0.8,
                      maxBucket: Int = 64): String = {
    val r = k / bands
    val aLit = hashA(k).mkString("[", ",", "]")
    val bLit = hashB(k).mkString("[", ",", "]")
    s"""d AS ($plantedSql),
       sh AS (SELECT doc_id, ${shinglesSql("text")} AS s FROM d),
       hs AS (SELECT doc_id, list_transform(s, x -> ${md5Hash64Sql("x")} % $P) AS hv FROM sh),
       sig AS (SELECT doc_id,
         list_transform(range($k), i ->
           list_min(list_transform(hv, h -> ($aLit[i+1]*h + $bLit[i+1]) % $P))) AS sg
         FROM hs),
       banded AS (SELECT doc_id, CAST(b.range AS INT) AS band,
         array_to_string(sg[CAST(b.range AS INT)*$r+1 : CAST(b.range AS INT)*$r+$r], ',') AS bucket
         FROM sig, range($bands) b),
       ${candidatePairsSql(maxBucket)},
       dup_pairs AS (
         SELECT a_id, b_id, jaccard FROM (
           SELECT p.a_id, p.b_id,
             CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
               len(list_distinct(list_concat(sa.s, sb.s))) AS jaccard
           FROM pairs p
           JOIN sh sa ON sa.doc_id = p.a_id
           JOIN sh sb ON sb.doc_id = p.b_id
         ) WHERE jaccard >= $threshold
       )"""
  }

  // -------------------------------------------------------------------
  // Near-dup clusters: connected components over the verified pair graph
  // -------------------------------------------------------------------

  /** Connected components over a near-dup pair graph — the step after pair
    * generation in a corpus-dedup pipeline: pairs only say two docs match;
    * keeping one survivor per GROUP needs the transitive closure (A~B and
    * B~C put all three in one cluster even if A~C was never a candidate).
    *
    * Algorithm: min-label propagation (the "hash-to-min" scheme of
    * Rastogi et al., "Finding Connected Components in Map-Reduce", ICDE'13)
    * accelerated by pointer jumping: every node starts labeled with its own
    * id; each round every node takes the min label among itself and its
    * neighbors, then shortcuts label := label(label) (path doubling), so
    * label distance-to-root HALVES per round on top of the one-hop
    * propagation — O(log diameter) rounds, not O(diameter). Each round is
    * two shuffle joins keyed on the id plus a map-side-combined min
    * aggregate; the convergence check is a driver-side COUNT (bounded
    * state: one long), capped at `maxIter` (12 covers diameters into the
    * thousands). Labels only ever decrease, so `changed` counting
    * strictly-smaller labels is exact.
    *
    * Iterative-lineage discipline: each round's label relation is
    * checkpointed — persist alone does NOT truncate the logical
    * plan, and a loop that references the prior round twice doubles the
    * plan tree per round (2^rounds nodes; Catalyst chokes stringifying,
    * optimizing, and codegen-ing it long before the data is big).
    * `checkpointDir = None` (default) uses `localCheckpoint()` — fastest,
    * right for local mode; on a real cluster with lost-executor risk pass
    * a durable dir and the loop uses reliable `checkpoint()` instead —
    * same contract, identical output (test-locked).
    * Checkpoint lifecycle: superseded rounds' blocks have no explicit
    * unpersist API; the loop drops every reference as it advances (and the
    * returned plan reads only the LAST round's RDD), so the ContextCleaner
    * reclaims them after GC — cached-footprint ~2 label relations, not
    * rounds×labels. The pair-list cache IS explicit (persist/unpersist).
    *
    * Input: (a_id, b_id) pair rows. Output: (doc_id, cluster_id,
    * cluster_size) for every doc appearing in ≥1 pair (singletons form no
    * cluster and are not rows). cluster_id = min doc_id of the component —
    * deterministic, engine-independent.
    */
  def dupClusters(pairs: DataFrame, maxIter: Int = 12,
                  checkpointDir: Option[String] = None): DataFrame = {
    // iterative-lineage checkpoints: local (executor blocks — fastest, the
    // local-mode default) or RELIABLE against `checkpointDir` — on a real
    // cluster a lost executor kills a localCheckpoint'ed fixpoint job, so
    // deployments pass a durable dir instead of editing source
    checkpointDir.foreach(pairs.sparkSession.sparkContext.setCheckpointDir)
    def cp(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint() else df.localCheckpoint()
    // materialize the pair list ONCE before iterating: the upstream pair
    // pipeline (LSH + verify, with its own persisted stages) must not sit
    // under every loop action. Checkpoint, NOT persist: persist caches
    // the DATA but every loop action still re-analyzes and re-optimizes the
    // full upstream plan (measured 3-4× slower loop); the checkpoint cuts
    // the plan to a leaf. Lifecycle matches the loop relations (reclaimed
    // by the ContextCleaner once the returned plan drops the reference).
    val fixed = cp(pairs.select(col("a_id"), col("b_id")))
    val edges = fixed.select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionByName(fixed.select(col("b_id").as("src"), col("a_id").as("dst")))
    // seed with the 1-hop neighbor min (edges carry both directions, so one
    // groupBy gives label(x) = min(x, neighbors(x)) — round 0 for free)
    var labels = cp(edges
      .select(col("src").as("doc_id"), least(col("src"), col("dst")).as("cluster_id"))
      .groupBy("doc_id").agg(min("cluster_id").as("cluster_id")))
    var it = 0
    var changed = 1L
    while (changed > 0 && it < maxIter) {
      // 1-hop neighbor min
      val prop = edges.join(labels, col("src") === col("doc_id"))
        .select(col("dst").as("doc_id"), col("cluster_id"))
        .unionByName(labels.select(col("doc_id"), col("cluster_id")))
        .groupBy("doc_id").agg(min("cluster_id").as("cluster_id"))
      // pointer jump: label := label(label); carry the previous label so
      // the convergence count is a scan of the cached relation, not a join
      val ptr = prop.select(col("doc_id").as("p_id"), col("cluster_id").as("p_lab"))
      val next = cp(prop.join(ptr, col("cluster_id") === col("p_id"), "left")
        .join(labels.select(col("doc_id"), col("cluster_id").as("prev")), Seq("doc_id"))
        .select(col("doc_id"),
          coalesce(col("p_lab"), col("cluster_id")).as("cluster_id"), col("prev")))
      changed = next.filter(col("cluster_id") < col("prev")).count()
      labels = next.select(col("doc_id"), col("cluster_id"))
      it += 1
    }

    // a silently-unconverged result would be WRONG (labels not yet the
    // component min), so refuse it — raise maxIter for pathological graphs
    // (hop+jump covers diameters ~2^maxIter, far past any real dup chain)
    require(changed == 0,
      s"dupClusters did not converge in $maxIter rounds; raise maxIter")
    // cluster sizes via map-side-combined groupBy + join, NOT a
    // Window.partitionBy(cluster_id): the window shipped a mega-cluster's
    // ENTIRE membership to one reducer (the boilerplate-corpus scenario
    // candidatePairs' star fallback exists for), while the partial-agg
    // count never concentrates rows and the join back is AQE-skew-
    // splittable (guide §2.5: AQE splits skewed JOIN partitions, never
    // window partitions). Same rows, same column order.
    val sizes = labels.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
  }

  /** The corpus after cluster-level dedup: exactly one representative (the
    * min doc_id — the cluster label) survives per near-dup cluster;
    * singletons survive untouched. `n_merged` = docs the surviving row
    * absorbed (1 for singletons). The cluster map grows LINEARLY with the
    * corpus (near-dup clusters cover 20-40% of documents on real web-scale
    * corpora), so the enrichment join is a plain equi-join — NO forced
    * broadcast hint: AQE broadcasts when the map actually fits and
    * degrades to a (skew-splittable) shuffle join when it does not,
    * instead of OOMing the driver on a hint it can never override.
    */
  def clusterDedupKeep(docs: DataFrame, threshold: Double = 0.8): DataFrame = {
    val clusters = dupClusters(minHashDedupPairs(docs, threshold))
    withPlantedDups(docs)
      .join(clusters, Seq("doc_id"), "left")
      .filter(col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
      .select(col("doc_id"), coalesce(col("cluster_size"), lit(1L)).as("n_merged"))
  }

  /** DuckDB CTEs computing the transitive closure of `dup_pairs` and the
    * per-component min-label map — the oracle-side mirror of
    * [[dupClusters]] (a recursive CTE reaches the same fixpoint the
    * propagation loop does).
    */
  private val closureCtes: String =
    """edges AS (SELECT a_id AS src, b_id AS dst FROM dup_pairs
                 UNION ALL SELECT b_id, a_id FROM dup_pairs),
       closure AS (
         SELECT DISTINCT src, src AS dst FROM edges
         UNION
         SELECT c.src, e.dst FROM closure c JOIN edges e ON c.dst = e.src
       ),
       comp AS (SELECT src AS doc_id, MIN(dst) AS cluster_id
                FROM closure GROUP BY src)"""

  /** Full DuckDB replication of [[dupClusters]] over the MinHash
    * pair graph — the oracle for `q_doc_dup_clusters`.
    */
  def dupClustersOracleSql(k: Int = 16, bands: Int = 4, threshold: Double = 0.8,
                           maxBucket: Int = 64): String =
    s"""WITH RECURSIVE ${minHashPairCtes(k, bands, threshold, maxBucket)},
       $closureCtes
       SELECT comp.doc_id, comp.cluster_id, sz.cluster_size
       FROM comp JOIN (SELECT cluster_id, COUNT(*) AS cluster_size
                       FROM comp GROUP BY cluster_id) sz USING (cluster_id)"""

  /** Full DuckDB replication of [[clusterDedupKeep]] — the oracle for
    * `q_doc_cluster_dedup`.
    */
  def clusterDedupKeepOracleSql(k: Int = 16, bands: Int = 4,
                                threshold: Double = 0.8,
                                maxBucket: Int = 64): String =
    s"""WITH RECURSIVE ${minHashPairCtes(k, bands, threshold, maxBucket)},
       $closureCtes,
       sz AS (SELECT cluster_id, COUNT(*) AS n_merged FROM comp GROUP BY cluster_id)
       SELECT d.doc_id, COALESCE(sz.n_merged, 1) AS n_merged
       FROM d
       LEFT JOIN comp ON comp.doc_id = d.doc_id
       LEFT JOIN sz ON sz.cluster_id = comp.cluster_id
       WHERE comp.doc_id IS NULL OR comp.cluster_id = d.doc_id"""

  // -------------------------------------------------------------------
  // SimHash: 64-bit sign-of-weighted-bit-sums over token hashes
  // (Charikar '02); near-dups have small hamming distance.
  // -------------------------------------------------------------------
  /** 64-bit signature over the row's token hashes: one hash per token
    * (`transform`), then the codegen SimHashBits vote-and-sign fold — the
    * previous two-stage HOF (per-bit vote array rebuilt per token, then a
    * 64-element sign fold) was interpreted and allocated per element;
    * identical bit math (shiftRightUnsigned votes, >0 sign), oracle-locked.
    */
  private def simHashSig(text: Column): Column =
    graft.functions.SimHashBits.of(transform(split(text, " "), tok => md5Hash64(tok)))

  def simHashes(docs: DataFrame): DataFrame =
    withPlantedDups(docs)
      .select(col("doc_id"), simHashSig(col("text")).as("simhash"))

  /** Candidate pairs by 16-bit chunk bucketing (hamming ≤ 3 pairs must share
    * at least one of 4 chunks), verified by bit_count(xor). Bucket pair
    * emission is bounded via [[candidatePairs]].
    */
  def simHashNearDups(docs: DataFrame, maxHamming: Int = 8,
                      maxBucket: Int = 64): DataFrame = {
    // signatures computed ONCE and cached; every downstream use (bucketing,
    // the candidate self-join, both verify joins) is narrow off the cache
    val h = simHashes(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val chunked = h.select(col("doc_id"),
      explode(transform(sequence(lit(0), lit(3)),
        c => struct(c.as("band"),
          graft.functions.BitOps.shiftRU(col("simhash"), c * 16)
            .bitwiseAND(lit(0xFFFFL)).cast("string").as("bucket"))))
        .as("cc"))
      .select(col("doc_id"), col("cc.band"), col("cc.bucket"))
    candidatePairs(chunked, maxBucket)
      .join(h.select(col("doc_id").as("a_id"), col("simhash").as("a_sim")), "a_id")
      .join(h.select(col("doc_id").as("b_id"), col("simhash").as("b_sim")), "b_id")
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_sim").bitwiseXOR(col("b_sim"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Full DuckDB replication of the SimHash near-dup pipeline —
    * the oracle for `q_doc_simhash_neardups`.
    */
  def simHashOracleSql(maxHamming: Int = 8, maxBucket: Int = 64): String =
    s"""WITH d AS ($plantedSql),
       hs AS (SELECT doc_id,
         list_transform(string_split(text, ' '), t -> ${md5Hash64Sql("t")}) AS hv FROM d),
       sh AS (SELECT doc_id, CAST(list_sum(list_transform(range(64), b ->
           CASE WHEN list_sum(list_transform(hv, h ->
             CASE WHEN (h >> CAST(b AS INT)) & 1 = 1 THEN 1 ELSE -1 END)) > 0
           THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE CAST(0 AS BIGINT) END))
         AS BIGINT) AS simhash FROM hs),
       banded AS (SELECT doc_id, CAST(c.range AS INT) AS band,
         CAST((simhash >> (CAST(c.range AS INT) * 16)) & 65535 AS VARCHAR) AS bucket
         FROM sh, range(4) c),
       ${candidatePairsSql(maxBucket)}
       SELECT p.a_id, p.b_id,
         CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INT) AS hamming
       FROM pairs p
       JOIN sh sa ON sa.doc_id = p.a_id
       JOIN sh sb ON sb.doc_id = p.b_id
       WHERE bit_count(xor(sa.simhash, sb.simhash)) <= $maxHamming"""
}

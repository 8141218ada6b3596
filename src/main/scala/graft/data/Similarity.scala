package graft.data

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (`vec_id, embedding:
  * array<float>, label`): brute-force cosine top-k as the exact baseline,
  * and an LSH-bucketed (random-hyperplane) variant as the 100 TB scale path.
  */
object Similarity {

  def embeddings(spark: SparkSession, sfDir: String): DataFrame =
    graft.io.Parquet.read(spark, s"$sfDir/embeddings.parquet")

  /** Quantize to integers (×1000) so dot products are exact int64 math —
    * deterministic ranking with zero float-summation-order hazards (the
    * score is a single IEEE division of exact integers). |x|<1 and 64 dims
    * keep dot² < 2^53.
    */
  def quantized(e: Column): Column =
    transform(e, x => round(x.cast("double") * 1000).cast("long"))

  /** Codegen int64 dot product (graft.functions.DotProduct) — the HOF form
    * `aggregate(zip_with(a, b, _*_), 0L, _+_)` is CodegenFallback and paid
    * lambda dispatch + boxing per element on every scored candidate; the
    * expression is the identical exact-integer math (oracle-locked).
    */
  private def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.of(a, b)

  /** Signed comparable cosine proxy: sign(dot)·dot²/|b|² — monotone in
    * cosine for a fixed query (|a| constant per query group), exact-int
    * inputs, so cross-engine rank ties break identically on vec_id.
    */
  def cosineRankScore(dotCol: Column, bNorm2: Column): Column =
    (signum(dotCol) * dotCol * dotCol / bNorm2).cast("double")

  /** Brute-force top-k neighbors for the first `nQueries` vectors.
    * The query side is tiny → broadcast; the corpus side streams — the
    * exact pattern that scales to a full-corpus scan at 100 TB (one pass,
    * no shuffle except the per-query top-k).
    */
  def bruteForceTopK(emb: DataFrame, k: Int = 3, nQueries: Int = 10): DataFrame = {
    val q = emb.filter(col("vec_id") < nQueries)
      // the filter already bounds this side to nQueries rows (vec_id is
      // unique); the explicit limit makes that bound visible to the
      // planner/plan-gate, which stats alone cannot prove
      .limit(nQueries)
      .select(col("vec_id").as("q_id"), quantized(col("embedding")).as("q_vec"))
    val c = emb.select(col("vec_id").as("n_id"), quantized(col("embedding")).as("n_vec"))
    val d = dot(col("q_vec"), col("n_vec"))
    val n2 = dot(col("n_vec"), col("n_vec"))
    val scored = c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        cosineRankScore(d, n2).as("score"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"))
  }

  /** Deterministic pseudo-random hyperplane components h(p,d) ∈ {-1,0,1} —
    * a fixed LCG-scrambled table computed ONCE on the driver and shipped as
    * array literals (broadcast state, like a trained projection matrix).
    * Literal planes beat per-row hash derivation twice: no per-row hash
    * work, and the identical numbers are spliced into the DuckDB oracle so
    * the ANN pipeline is end-to-end checkable.
    */
  def planes(nPlanes: Int = 8, dims: Int = 64): Seq[Seq[Long]] =
    (0 until nPlanes).map { p =>
      (0 until dims).map { d =>
        val v = (p * dims + d + 1) * 6364136223846793005L + 1442695040888963407L
        ((v >>> 33) % 3).toLong - 1
      }
    }

  /** Random-hyperplane LSH buckets: sign bits of dot products with
    * `nPlanes` hyperplanes. At scale, queries only scan their own bucket
    * instead of the full corpus: candidate generation is a groupBy(bucket),
    * not a cross join. (IVF-style coarse quantization swaps the projection
    * for k-means centroids; the plumbing is identical.)
    */
  def hyperplaneBucket(vec: Column, nPlanes: Int = 8, dims: Int = 64): Column =
    // one codegen double loop over the plane table (bit p set iff
    // dot(vec, plane_p) > 0) — replaces nPlanes interpreted 64-element
    // fold chains per row; identical sign math, oracle-locked
    graft.functions.PlaneSignBits.of(vec, planes(nPlanes, dims))

  def lshBuckets(emb: DataFrame, nPlanes: Int = 8): DataFrame =
    emb.select(col("vec_id"), quantized(col("embedding")).as("v"))
      .select(col("vec_id"), hyperplaneBucket(col("v"), nPlanes).as("bucket"))

  // -------------------------------------------------------------------
  // IVF (inverted-file) ANN: coarse quantizer cells instead of hash buckets
  // -------------------------------------------------------------------
  /** The coarse quantizer: every `stride`-th vector, collected once.
    * Bounded driver/broadcast state (nlist rows — a trained FAISS index
    * analog; k-means would refine these, the partition/probe plumbing is
    * identical), never corpus-scale.
    */
  def ivfCentroids(emb: DataFrame, stride: Int = 31): Seq[(Long, Seq[Long])] =
    emb.filter(col("vec_id") % stride === 0)
      .select(col("vec_id").cast("long"), quantized(col("embedding")))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toSeq))
      .sortBy(_._1).toSeq

  /** Cell assignment over a pre-collected quantizer.
    *
    * Scale shape: the centroid table is bounded driver/broadcast state, so
    * it ships as a single array literal; cell assignment is a per-row
    * argmax fold over that array — zero joins, zero shuffles, one narrow
    * codegen pass over the corpus. (The previous cross-join shape shuffled
    * |corpus|·|centroids| rows — a disguised cartesian product.)
    * Ties break to the smallest centroid id (fold visits centroids in
    * ascending id order and replaces only on a strictly better score).
    */
  def ivfCells(emb: DataFrame, centroids: Seq[(Long, Seq[Long])]): DataFrame = {
    val vecs = emb.select(col("vec_id"), quantized(col("embedding")).as("v"))
    // codegen argmax expression: tight long[] double loop, zero allocation —
    // an interpreted HOF fold here measured ~10× slower at ~200 centroids
    val cell = graft.functions.DotArgmax.of(col("v"),
      centroids.map(_._1), centroids.map(_._2))
    vecs.select(col("vec_id"), cell.as("cell"), col("v"))
  }

  def ivfCells(emb: DataFrame, stride: Int = 31): DataFrame =
    ivfCells(emb, ivfCentroids(emb, stride))

  /** IVF top-k with nprobe=1: query searches only its own cell — the
    * candidate set shrinks by ~|cells|×, trading recall for a full-corpus
    * scan (the 100 TB path; raise stride/nprobe to tune).
    */
  def ivfTopK(emb: DataFrame, k: Int = 3, nQueries: Int = 10): DataFrame = {
    val cells = ivfCells(emb)
    val q = cells.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("q_vec"), col("cell"))
    val c = cells.select(col("vec_id").as("n_id"), col("v").as("n_vec"), col("cell"))
    val d = dot(col("q_vec"), col("n_vec"))
    val n2 = dot(col("n_vec"), col("n_vec"))
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), cosineRankScore(d, n2).as("score"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"))
  }

  /** IVF top-k with nprobe > 1: corpus vectors stay in exactly ONE cell
    * (so no candidate appears twice), queries probe their `nprobe`
    * highest-dot centroids — the standard recall/latency dial (FAISS
    * `nprobe`). Probe-set construction is query-side only: nQueries ×
    * nlist dot products over the broadcast centroid literal — never a
    * corpus-side pass, so raising nprobe costs only candidate volume.
    * With nprobe ≥ nlist the candidate set is the whole corpus and the
    * result equals [[bruteForceTopK]] exactly (locked by a test).
    */
  def ivfTopKProbe(emb: DataFrame, k: Int = 3, nQueries: Int = 10,
                   nprobe: Int = 2, stride: Int = 31): DataFrame = {
    val centroids = ivfCentroids(emb, stride)
    // ONE typed literal for the whole centroid table: the previous
    // array(struct(lit, typedlit)...) built a ~10k-node expression tree
    // (nlist × dims literals) that the analyzer/optimizer re-walked on
    // every construction — pure driver-side plan-time cost
    val cenLit = typedlit(centroids.map { case (id, v) => (id, v) })
    val probes = emb.filter(col("vec_id") < nQueries).limit(nQueries)
      .select(col("vec_id").as("q_id"), quantized(col("embedding")).as("q_vec"),
        explode(cenLit).as("c"))
      .select(col("q_id"), col("q_vec"), col("c._1").as("cell"),
        dot(col("q_vec"), col("c._2")).as("cs"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cs").desc, col("cell"))))
      .filter(col("rn") <= nprobe)
      .select(col("q_id"), col("q_vec"), col("cell"))
    val c = ivfCells(emb, centroids)
      .select(col("vec_id").as("n_id"), col("v").as("n_vec"), col("cell"))
    val d = dot(col("q_vec"), col("n_vec"))
    val n2 = dot(col("n_vec"), col("n_vec"))
    val scored = c.join(broadcast(probes), Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), cosineRankScore(d, n2).as("score"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"))
  }

  // -------------------------------------------------------------------
  // DuckDB oracle replication (quantized-int math is engine-exact)
  // -------------------------------------------------------------------
  private val quantizedSql =
    """SELECT vec_id,
       list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
       FROM embeddings"""

  private def rankSql(k: Int): String =
    s"""SELECT q_id, rank, n_id FROM (
       SELECT q_id, n_id, row_number() OVER (
         PARTITION BY q_id
         ORDER BY (CASE WHEN dd > 0 THEN 1.0 WHEN dd < 0 THEN -1.0 ELSE 0.0 END) * dd * dd / n2 DESC,
                  n_id) AS rank
       FROM s
     ) WHERE rank <= $k"""

  /** Oracle for `q_embed_lsh_topk`: the same literal hyperplanes, spliced. */
  def lshTopkOracleSql(k: Int = 3, nQueries: Int = 10, nPlanes: Int = 8): String = {
    val pl = planes(nPlanes)
    val bucketTerms = (0 until nPlanes).map { p =>
      val litP = pl(p).mkString("[", ",", "]")
      s"(CASE WHEN list_sum(list_transform(range(64), j -> v[j+1] * ($litP)[j+1])) > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH e AS ($quantizedSql),
       b AS (SELECT vec_id, v, CAST($bucketTerms AS BIGINT) AS bucket FROM e),
       q AS (SELECT vec_id AS q_id, v AS q_vec, bucket FROM b WHERE vec_id < $nQueries),
       s AS (SELECT q_id, b.vec_id AS n_id,
         CAST(list_sum(list_transform(range(64), i -> q_vec[i+1] * v[i+1])) AS BIGINT) AS dd,
         CAST(list_sum(list_transform(range(64), i -> v[i+1] * v[i+1])) AS BIGINT) AS n2
         FROM b JOIN q USING (bucket) WHERE b.vec_id <> q_id)
       ${rankSql(k)}"""
  }

  /** Oracle for `q_embed_ivf_topk`: stride centroids, argmax cell
    * assignment (ties → smallest centroid id), nprobe=1 search.
    */
  /** Shared CTE block: quantize, stride centroids, centroid scoring, and
    * argmax cell assignment (ties → smallest centroid id) — both IVF
    * oracles read these, so cell semantics cannot desynchronize.
    */
  private def ivfCellCtes(stride: Int): String =
    s"""e AS ($quantizedSql),
       c AS (SELECT vec_id AS c_id, v AS c_vec FROM e WHERE vec_id % $stride = 0),
       scoredc AS (SELECT e.vec_id, e.v, c.c_id,
         CAST(list_sum(list_transform(range(64), j -> e.v[j+1] * c.c_vec[j+1])) AS BIGINT) AS cs
         FROM e, c),
       cells AS (SELECT vec_id, v, c_id AS cell FROM (
         SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, c_id) AS rn
         FROM scoredc) WHERE rn = 1)"""

  def ivfTopkOracleSql(k: Int = 3, nQueries: Int = 10, stride: Int = 31): String =
    s"""WITH ${ivfCellCtes(stride)},
       q AS (SELECT vec_id AS q_id, v AS q_vec, cell FROM cells WHERE vec_id < $nQueries),
       s AS (SELECT q_id, c2.vec_id AS n_id,
         CAST(list_sum(list_transform(range(64), i -> q_vec[i+1] * c2.v[i+1])) AS BIGINT) AS dd,
         CAST(list_sum(list_transform(range(64), i -> c2.v[i+1] * c2.v[i+1])) AS BIGINT) AS n2
         FROM cells c2 JOIN q USING (cell) WHERE c2.vec_id <> q_id)
       ${rankSql(k)}"""

  /** Oracle for `q_embed_ivf_probe`: same cells, queries probe their
    * `nprobe` highest-dot centroids.
    */
  def ivfTopkProbeOracleSql(k: Int = 3, nQueries: Int = 10, nprobe: Int = 2,
                            stride: Int = 31): String =
    s"""WITH ${ivfCellCtes(stride)},
       probes AS (SELECT vec_id AS q_id, v AS q_vec, c_id AS cell FROM (
         SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, c_id) AS rn
         FROM scoredc WHERE vec_id < $nQueries) WHERE rn <= $nprobe),
       s AS (SELECT q_id, c2.vec_id AS n_id,
         CAST(list_sum(list_transform(range(64), i -> q_vec[i+1] * c2.v[i+1])) AS BIGINT) AS dd,
         CAST(list_sum(list_transform(range(64), i -> c2.v[i+1] * c2.v[i+1])) AS BIGINT) AS n2
         FROM cells c2 JOIN probes USING (cell) WHERE c2.vec_id <> q_id)
       ${rankSql(k)}"""

  // -------------------------------------------------------------------
  // Embedding-cosine near-dup detection (the dedup-by-embedding path):
  // hyperplane-bucketed candidates + exact quantized-cosine verification
  // -------------------------------------------------------------------
  /** Corpus with planted duplicates in QUANTIZED space: exact copies
    * (vec_id%10==0 → +100000) and near copies (vec_id%10==1 → +200000,
    * first component nudged by one quantum). Long-space planting keeps the
    * oracle replay float-free.
    */
  def withPlantedVecs(emb: DataFrame): DataFrame = {
    val base = emb.select(col("vec_id"), quantized(col("embedding")).as("v"))
    val exact = base.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 100000).as("vec_id"), col("v"))
    val near = base.filter(col("vec_id") % 10 === 1)
      .select((col("vec_id") + 200000).as("vec_id"),
        concat(array(element_at(col("v"), 1) + 1L), slice(col("v"), 2, 63)).as("v"))
    base.unionByName(exact).unionByName(near)
  }

  val plantedVecsSql: String =
    """SELECT vec_id, v FROM e
       UNION ALL SELECT vec_id + 100000, v FROM e WHERE vec_id % 10 = 0
       UNION ALL SELECT vec_id + 200000,
         list_prepend(v[1] + 1, v[2:64]) AS v FROM e WHERE vec_id % 10 = 1"""

  /** Near-duplicate pairs by cosine ≥ threshold: candidates from the
    * hyperplane buckets (near-identical vectors share all sign bits), pair
    * enumeration bounded exactly like [[Dedup.candidatePairs]] (≤ maxBucket
    * buckets enumerate, degenerate buckets emit star pairs to the min-id
    * representative), verification by exact integer dot products — never
    * an all-pairs join.
    *
    * The vectors RIDE THE BUCKET WINDOW (the same window-borne-state trick
    * that collapsed chronicle_split): one (band,bucket) exchange carries
    * (doc_id, v); small buckets enumerate pairs by exploding the
    * window-collected member list and degenerate buckets take their
    * representative's vector from a window-min struct — so the candidate-id
    * distinct, the left-semi vector gate and both vector re-join shuffles
    * of the previous shape are gone (7 exchanges → 1) and verification is
    * a pure projection over the exploded pairs.
    */
  def cosineNearDups(emb: DataFrame, threshold: Double = 0.99,
                     maxBucket: Int = 64): DataFrame = {
    val bandedV = withPlantedVecs(emb)
      .select(col("vec_id").as("doc_id"), lit(0).as("band"),
        hyperplaneBucket(col("v")).cast("string").as("bucket"), col("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val w = Window.partitionBy(col("band"), col("bucket"))
    val sized = bandedV
      .withColumn("bsz", count(lit(1)).over(w))
      // min(struct) orders on doc_id first: the representative AND its
      // vector in one pass
      .withColumn("rep", min(struct(col("doc_id"), col("v"))).over(w))
    // the bsz filter runs BEFORE the collect_list window, so a degenerate
    // bucket never materializes a member list; the filter preserves the
    // (band,bucket) hash partitioning, so this WindowExec reuses the same
    // exchange instead of shuffling again
    val small = sized.filter(col("bsz") <= maxBucket)
      .withColumn("members",
        collect_list(struct(col("doc_id"), col("v"))).over(w))
    // each member pairs with its strictly-greater bucket peers: every
    // unordered pair exactly once (docs sit in ONE bucket per band)
    val pairsSmall = small
      .select(col("doc_id").as("a_id"), col("v").as("a_v"),
        explode(filter(col("members"),
          m => m.getField("doc_id") > col("doc_id"))).as("m"))
      .select(col("a_id"), col("m.doc_id").as("b_id"), col("a_v"),
        col("m.v").as("b_v"))
    val pairsBig = sized
      .filter(col("bsz") > maxBucket && col("doc_id") =!= col("rep.doc_id"))
      .select(col("rep.doc_id").as("a_id"), col("rep.v").as("a_v"),
        col("doc_id").as("b_id"), col("v").as("b_v"))
    val d = dot(col("a_v"), col("b_v"))
    val cos = signum(d) * d * d /
      (dot(col("a_v"), col("a_v")) * dot(col("b_v"), col("b_v"))).cast("double")
    pairsSmall.unionByName(pairsBig)
      .withColumn("cos2_e6", round(cos * 1000000).cast("long"))
      .filter(col("cos2_e6") >= math.round(threshold * threshold * 1000000))
      .select(col("a_id"), col("b_id"), col("cos2_e6"))
  }

  /** DuckDB replication of [[cosineNearDups]] — same planes, same capped
    * pair generation, same integer-exact verification.
    */
  def cosineNearDupsOracleSql(threshold: Double = 0.99, nPlanes: Int = 8): String = {
    val pl = planes(nPlanes)
    val bucketTerms = (0 until nPlanes).map { p =>
      val litP = pl(p).mkString("[", ",", "]")
      s"(CASE WHEN list_sum(list_transform(range(64), j -> v[j+1] * ($litP)[j+1])) > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
    val thr = math.round(threshold * threshold * 1000000)
    s"""WITH e AS ($quantizedSql),
       d AS ($plantedVecsSql),
       banded AS (SELECT vec_id AS doc_id, 0 AS band,
         CAST(CAST($bucketTerms AS BIGINT) AS VARCHAR) AS bucket,
         v FROM d),
       ${Dedup.candidatePairsSql()}
       SELECT a_id, b_id, cos2_e6 FROM (
         SELECT p.a_id, p.b_id,
           CAST(round(
             (CASE WHEN dd > 0 THEN 1.0 WHEN dd < 0 THEN -1.0 ELSE 0.0 END) * dd * dd
             / CAST(n2a * n2b AS DOUBLE) * 1000000) AS BIGINT) AS cos2_e6
         FROM (
           SELECT p0.a_id, p0.b_id,
             CAST(list_sum(list_transform(range(64), i -> va.v[i+1] * vb.v[i+1])) AS BIGINT) AS dd,
             CAST(list_sum(list_transform(range(64), i -> va.v[i+1] * va.v[i+1])) AS BIGINT) AS n2a,
             CAST(list_sum(list_transform(range(64), i -> vb.v[i+1] * vb.v[i+1])) AS BIGINT) AS n2b
           FROM pairs p0
           JOIN d va ON va.vec_id = p0.a_id
           JOIN d vb ON vb.vec_id = p0.b_id
         ) p
       ) WHERE cos2_e6 >= $thr"""
  }

  /** ANN top-k restricted to same-bucket candidates (recall<1 by design;
    * the scale path). */
  def lshTopK(emb: DataFrame, k: Int = 3, nQueries: Int = 10): DataFrame = {
    val b = lshBuckets(emb)
    val withVec = emb.select(col("vec_id"), quantized(col("embedding")).as("v"))
      .join(b, "vec_id")
    val q = withVec.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("q_vec"), col("bucket"))
    val c = withVec.select(col("vec_id").as("n_id"), col("v").as("n_vec"), col("bucket"))
    val d = dot(col("q_vec"), col("n_vec"))
    val n2 = dot(col("n_vec"), col("n_vec"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), cosineRankScore(d, n2).as("score"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"))
  }
}

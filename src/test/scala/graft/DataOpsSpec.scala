package graft

import org.apache.spark.sql.functions._
import graft.data.{Dedup, Multimodal, Similarity, TextAnalysis}

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  lazy val docs = TextAnalysis.documents(spark, sfDir).cache()

  test("exact dedup finds exactly the planted copies") {
    val planted = docs.filter($"doc_id" % 10 === 0).count()
    val dups = Dedup.exactDedup(docs).filter($"n_copies" > 1)
    assert(dups.count() == planted)
    assert(dups.filter($"n_copies" =!= 2).count() == 0)
    // keeper is always the original (min doc_id)
    assert(dups.filter($"keep_doc_id" >= 100000).count() == 0)
  }

  test("minhash-LSH candidates contain every planted exact pair") {
    val cands = Dedup.minHashLshCandidates(docs)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    val plantedPairs = docs.filter($"doc_id" % 10 === 0)
      .select($"doc_id").as[Long].collect()
      .map(id => (id, id + 100000)).toSet
    val missed = plantedPairs -- cands
    assert(missed.isEmpty, s"LSH missed exact dups: ${missed.take(3)}")
  }

  test("minhash dedup pairs: planted near-dups verified with jaccard >= 0.8") {
    val pairs = Dedup.minHashDedupPairs(docs)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    val plantedNear = docs.filter($"doc_id" % 10 === 1)
      .select($"doc_id").as[Long].collect()
      .map(id => (id, id + 200000)).toSet
    val found = plantedNear.intersect(pairs)
    // near dup = one appended token; long docs stay >= 0.8 jaccard
    assert(found.size >= (plantedNear.size * 8) / 10,
      s"found only ${found.size}/${plantedNear.size} planted near-dups")
    // cache envelope: the verify join's shingle input is gated by a
    // left-semi join on the candidate ids (candidate-scale persist, never
    // corpus-scale×k)
    val plan = Dedup.minHashDedupPairs(docs).queryExecution.optimizedPlan.toString
    assert(plan.contains("LeftSemi"),
      s"verify-join shingles not candidate-gated:\n$plan")
  }

  test("degenerate corpus: candidate pair count stays LINEAR, not B^2") {
    // 1000 identical docs — a single LSH bucket; uncapped enumeration
    // would emit ~500k pairs, the star fallback emits exactly n-1
    val n = 1000
    val degenerate = spark.range(n).select(
      $"id".as("doc_id"),
      lit("the same boilerplate text repeated in every document").as("text"),
      lit("en").as("lang"), lit("gen").as("source"), lit(52).as("n_chars"))
    val pairs = Dedup.minHashLshCandidates(degenerate)
    // withPlantedDups adds +100000/+200000 variants; count pairs among the
    // identical originals only
    val amongOriginals = pairs.filter($"a_id" < 100000 && $"b_id" < 100000)
    assert(amongOriginals.count() == n - 1,
      "oversized bucket must emit star pairs to the min-id representative")
    // every identical doc is linked to the cluster root (doc 0)
    assert(amongOriginals.filter($"a_id" =!= 0).count() == 0)
  }

  test("dedup candidate generation never plans an all-pairs join") {
    val emb = Similarity.embeddings(spark, sfDir)
    Seq(
      "minhash" -> Dedup.minHashDedupPairs(docs),
      "simhash" -> Dedup.simHashNearDups(docs),
      "cosine" -> Similarity.cosineNearDups(emb)).foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name plans a cartesian")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name plans a nested-loop join")
    }
  }

  test("simhash: exact copies have hamming distance 0") {
    val near = Dedup.simHashNearDups(docs)
      .filter($"hamming" === 0)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    val plantedPairs = docs.filter($"doc_id" % 10 === 0)
      .select($"doc_id").as[Long].collect()
      .map(id => (id, id + 100000)).toSet
    assert((plantedPairs -- near).isEmpty)
  }

  test("dupClusters: labels are the transitive-closure min, not the pair min") {
    // 1-2, 2-3, 3-4: a chain whose closure needs multiple propagation
    // rounds; 10-11 a separate component; 4-2 a redundant back edge
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (2L, 4L))
      .toDF("a_id", "b_id")
    val got = Dedup.dupClusters(pairs)
      .select($"doc_id", $"cluster_id", $"cluster_size")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 1L, 4L), (2L, 1L, 4L), (3L, 1L, 4L), (4L, 1L, 4L),
      (10L, 10L, 2L), (11L, 10L, 2L)))
  }

  test("dupClusters matches a union-find cross-check on a pseudorandom graph") {
    val rnd = new scala.util.Random(42)
    val pairs = (1 to 400).map { _ =>
      val a = rnd.nextInt(300).toLong; val b = rnd.nextInt(300).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(p => p._1 != p._2).distinct
    // reference union-find: larger root always points at smaller root, so
    // find() yields the component min — dupClusters' label contract
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      .map(x => (x, find(x))).toSet
    val got = Dedup.dupClusters(pairs.toDF("a_id", "b_id"))
      .select($"doc_id", $"cluster_id").as[(Long, Long)].collect().toSet
    assert(got == expected)
  }

  test("dupClusters: a long chain converges within the iteration cap") {
    val chain = (1L to 30L).sliding(2).map(w => (w.head, w.last)).toSeq
      .toDF("a_id", "b_id")
    val labels = Dedup.dupClusters(chain)
      .select($"cluster_id").distinct().as[Long].collect()
    assert(labels.toSeq == Seq(1L)) // one component, labeled by its min
  }

  test("clusterDedupKeep: one survivor per cluster, n_merged partitions the corpus") {
    val kept = Dedup.clusterDedupKeep(docs).cache()
    val clusters = Dedup.dupClusters(
      Dedup.minHashDedupPairs(docs)).cache()
    val planted = Dedup.withPlantedDups(docs).count()
    // every cluster member except its representative was dropped
    assert(kept.count() == planted - clusters.filter($"doc_id" =!= $"cluster_id").count())
    // the survivors' merge counts add back up to the full corpus
    assert(kept.agg(sum($"n_merged")).as[Long].head() == planted)
    // a representative survives for every cluster
    val reps = clusters.filter($"doc_id" === $"cluster_id").count()
    assert(kept.filter($"n_merged" > 1).count() == reps)
  }

  test("dupClusters: reliable-checkpoint path produces identical output") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("a_id", "b_id")
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val local = Dedup.dupClusters(pairs)
      .as[(Long, Long, Long)].collect().toSet
    val reliable = Dedup.dupClusters(pairs, checkpointDir = Some(dir))
      .as[(Long, Long, Long)].collect().toSet
    assert(local == reliable)
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(dir)).count() > 0,
      "reliable path wrote nothing to the checkpoint dir")
  }

  test("clusterDedupKeep: planted giant cluster (>10x maxBucket), no forced broadcast") {
    // 1000 identical docs + their planted copies: one mega-cluster far past
    // the 64-member bucket cap — the boilerplate-corpus scenario. The
    // cluster map join must be a PLAIN equi-join (no broadcast hint an
    // optimizer could never override at corpus scale).
    val giant = spark.range(1000).select(
      ($"id" + 500000).as("doc_id"),
      lit("giant boilerplate body repeated across the corpus verbatim").as("text"),
      lit("en").as("lang"), lit("synthetic").as("source"), lit(59).as("n_chars"))
    val kept = Dedup.clusterDedupKeep(giant)
    assert(!kept.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "cluster map join carries a forced hint")
    val rows = kept.as[(Long, Long)].collect()
    val total = Dedup.withPlantedDups(giant).count()
    // every doc is in some near-dup cluster: few survivors, counts reconcile
    assert(rows.map(_._2).sum == total)
    assert(rows.length <= 2, s"expected <=2 survivors, got ${rows.length}")
    assert(rows.map(_._2).max >= 1100, "giant cluster did not form")
  }

  test("contamination: planted eval copies are caught; eval side broadcasts") {
    val (train, eval) = Dedup.contaminationEvalSplit(docs)
    val hits = Dedup.contamination(train, eval)
    // exact planted copies of eval docs (base id %97==3 and %10==0 → its
    // +100000 twin stays in train) must surface with full shingle overlap
    val copied = eval.filter($"doc_id" % 10 === 0)
      .select($"doc_id").as[Long].collect().toSet
    val found = hits.filter($"n_shared" >= 3)
      .select($"doc_id", $"eval_id").as[(Long, Long)].collect()
    copied.foreach { id =>
      assert(found.contains((id + 100000, id)), s"missed planted copy of eval doc $id")
    }
    // scale shape: the eval shingle side must broadcast, never shuffle the
    // corpus — the train-side anti-join also broadcasts, so a positive
    // BroadcastHashJoin match alone could mask a shingle-join regression;
    // additionally require that NO join in the plan sort-merges
    val plan = hits.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(500))
    assert(!plan.contains("SortMergeJoin"), plan.take(500))
  }

  test("shingle hashes: docs shorter than n hash without error (ANSI get() path)") {
    val tiny = Seq((1L, "solo"), (2L, "two words"), (3L, "three word doc"))
      .toDF("doc_id", "text")
      .select($"doc_id", Dedup.wordHashes($"text").as("wh"))
      .select($"doc_id", Dedup.shingleHashesFromWords($"wh").as("sh"))
    val got = tiny.as[(Long, Seq[Long])].collect().toMap
    assert(got.keySet == Set(1L, 2L, 3L))
    assert(got.values.forall(s => s.nonEmpty && s.forall(h => h >= 0 && h < Dedup.P)))
  }

  test("Md5Long equals the conv(substring(md5)) reference form bit-for-bit") {
    val ref = conv(substring(md5($"s"), 1, 15), 16, 10).cast("long")
    val fixture = Dedup.withPlantedDups(docs).select($"text".as("s"))
      .unionByName(Seq("", " ", "a", "é ünïcode ✓", "0123456789abcdef",
        "x" * 1000).toDF("s"))
    val mismatched = fixture
      .select(Dedup.md5Hash64($"s").as("got"), ref.as("want"))
      .filter(not($"got" <=> $"want"))
    assert(mismatched.count() == 0)
  }

  test("NGramJoin shingles are element-identical to the HOF reference form") {
    def ref(c: org.apache.spark.sql.Column) = {
      val words = split(c, " ")
      array_distinct(transform(
        sequence(lit(0), greatest(size(words) - 3, lit(0))),
        i => array_join(slice(words, i + 1, lit(3)), " ")))
    }
    val mismatched = Dedup.withPlantedDups(docs)
      .select(Dedup.shingles($"text").as("got"), ref($"text").as("want"))
      .filter(not($"got" <=> $"want"))
    assert(mismatched.count() == 0)
    // edge shapes: docs shorter than n, repeated shingles (distinct order)
    val tiny = Seq("solo", "two words", "a b c", "a b c d",
      "x x x x x", "", "a  b").toDF("text")
    val tinyBad = tiny
      .select(Dedup.shingles($"text").as("got"), ref($"text").as("want"))
      .filter(not($"got" <=> $"want"))
    assert(tinyBad.count() == 0)
  }

  test("NGramHash shingle hashes are element-identical to the HOF reference form") {
    def ref(wh: org.apache.spark.sql.Column, n: Int) =
      array_distinct(transform(
        sequence(lit(0), greatest(size(wh) - n, lit(0))),
        i => (0 until n).foldLeft(lit(0L): org.apache.spark.sql.Column)((acc, k) =>
          pmod(acc * Dedup.ShingleA + coalesce(get(wh, i + k), lit(0L)),
            lit(Dedup.P)))))
    val whCol = Dedup.wordHashes($"text")
    val mismatched = Dedup.withPlantedDups(docs)
      .select(whCol.as("wh"))
      .select(Dedup.shingleHashesFromWords($"wh").as("got"),
        ref($"wh", 3).as("want"))
      .filter(not($"got" <=> $"want"))
    assert(mismatched.count() == 0)
    val tiny = Seq("solo", "two words", "a b c d", "x x x x x").toDF("text")
      .select(Dedup.wordHashes($"text").as("wh"))
      .select(Dedup.shingleHashesFromWords($"wh").as("got"),
        ref($"wh", 3).as("want"))
      .filter(not($"got" <=> $"want"))
    assert(tiny.count() == 0)
  }

  test("constant-table expressions compare by value across query constructions") {
    // two independent constructions of the same query must canonicalize
    // equal — CacheManager matches persisted relations (and ReuseExchange
    // matches shuffles) via sameResult, so an expression whose constants
    // compare by REFERENCE (e.g. an Array field) silently defeats every
    // cross-query cache share the bench's related queries rely on
    // (measured: the minhash family re-derived its persisted banded
    // relation per query, ~3x the family's cost)
    val b1 = Dedup.minHashBanded(docs)
    val b2 = Dedup.minHashBanded(docs)
    assert(b1.queryExecution.analyzed.sameResult(b2.queryExecution.analyzed),
      "MinHashSig constructions do not canonicalize equal")
    val e = Similarity.embeddings(spark, sfDir)
    val l1 = Similarity.lshBuckets(e)
    val l2 = Similarity.lshBuckets(e)
    assert(l1.queryExecution.analyzed.sameResult(l2.queryExecution.analyzed),
      "PlaneSignBits constructions do not canonicalize equal")
    val c1 = Similarity.ivfCells(e)
    val c2 = Similarity.ivfCells(e)
    assert(c1.queryExecution.analyzed.sameResult(c2.queryExecution.analyzed),
      "DotArgmax constructions do not canonicalize equal")
  }

  test("every graft.functions kernel gives the same rows generated and interpreted") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.functions._
    import graft.parse.ParseOps
    val nginx = """10.1.2.3 - u [05/Feb/2024:10:11:12 +0000] "GET /a HTTP/1.1" 404 12 "-" "ag/3""""
    val schema = StructType(Seq(
      StructField("s", StringType),
      StructField("words", ArrayType(StringType, containsNull = false)),
      StructField("wh", ArrayType(LongType, containsNull = false)),
      StructField("entries", ArrayType(StructType(Seq(
        StructField("cidx", IntegerType, nullable = false),
        StructField("cum", LongType, nullable = false),
        StructField("sz", LongType, nullable = false))), containsNull = false))))
    // a logical RDD, not a local relation: the optimizer would evaluate a
    // projection over local rows itself, interpreted, in both modes
    val input = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(nginx, Seq("a", "b", "c", "d", "a", "b", "c"), Seq(1L, 2L, 3L, 1L, 2L),
        Seq(Row(0, 10L, 10L), Row(1, 30L, 20L), Row(2, 60L, 30L))),
      Row("a", Seq.empty[String], Seq.empty[Long], Seq.empty[Row]),
      Row("b", Seq("x"), Seq(-5L), Seq(Row(0, 40L, 40L))),
      Row(null, null, null, null)), 2), schema)
    val dim = DimLookup.table(Seq("k", "v", "w"), 0,
      Seq(Seq("a", "x", null), Seq("b", "y", "z")))
    val kernels = Seq(
      Md5Long.of($"s"),
      Murmur3Hex.of($"s", bits128 = false),
      Murmur3Hex.of($"s", bits128 = true),
      RegexExtractStruct.of($"s", ParseOps.NginxPattern, ParseOps.NginxFields),
      DimLookup.of($"s", dim),
      NGramJoin.of($"words", 3),
      NGramHash.of($"wh", 2, Dedup.ShingleA, Dedup.P),
      MidpointBatches.of($"entries", 25L, 3),
      DotProduct.of($"wh", $"wh"),
      PlaneSignBits.of($"wh", Seq(Seq(1L, -1L, 2L), Seq(-3L, 1L, 1L))),
      DotArgmax.of($"wh", Seq(7L, 9L), Seq(Seq(1L, 0L, 0L), Seq(0L, 0L, 1L))),
      MinHashSig.of($"wh", Seq(3L, 5L), Seq(7L, 11L), Dedup.P),
      SimHashBits.of($"wh"))
    val (generated, interpreted) = inCodegenModes {
      input.select(kernels.zipWithIndex.map { case (k, i) => k.as(s"k$i") }: _*)
        .collect().toSeq.sortBy(r => Option(r.get(0)).map(_.asInstanceOf[Long]))
    }
    assert(generated == interpreted)
    // null in, null out for every kernel; a dim hit, a regex hit and miss
    assert(generated.head.toSeq.forall(_ == null))
    assert(generated.exists(r => r.getStruct(4) == Row("x", null)))
    assert(generated.count(r => r.getStruct(3) != null) == 1)
  }

  test("a grok plugin query gives the same rows generated and interpreted") {
    // the grok struct is computed in a Generate node, which whole-stage
    // codegen compiles and the interpreted path evaluates row by row
    val (generated, interpreted) = inCodegenModes {
      SparkEntry.queries("q_plugin_nginx")(spark, sfDir).collect().toSeq
        .sortBy(r => (r.getString(0), r.getInt(1)))
    }
    assert(generated.nonEmpty && generated == interpreted)
  }

  test("assignSplits: deterministic, exhaustive, and stable under subsetting") {
    import graft.data.TextAnalysis
    val s1 = TextAnalysis.assignSplits(docs)
    assert(s1.filter($"split".isNull).count() == 0)
    val m1 = s1.select($"doc_id", $"split").as[(Long, String)].collect().toMap
    // per-mille weights roughly hold (hash-uniform; loose band)
    val train = m1.values.count(_ == "train").toDouble / m1.size
    assert(train > 0.7 && train < 0.9)
    // subsetting the corpus does not move any doc's split (row-pure hash)
    val m2 = TextAnalysis.assignSplits(docs.filter($"doc_id" % 3 === 0))
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    assert(m2.forall { case (id, sp) => m1(id) == sp })
    // a different salt re-rolls at least some assignments
    val m3 = TextAnalysis.assignSplits(docs, salt = "other-salt")
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    assert(m3.exists { case (id, sp) => m1(id) != sp })
  }
}

class SimilaritySpec extends SparkTestBase {
  import spark.implicits._

  lazy val emb = Similarity.embeddings(spark, sfDir).cache()

  test("brute-force top-k: k neighbors per query, self excluded, ranks dense") {
    val topk = Similarity.bruteForceTopK(emb, k = 3, nQueries = 5)
      .as[(Long, Int, Long)].collect()
    val byQ = topk.groupBy(_._1)
    assert(byQ.size == 5)
    byQ.foreach { case (q, rows) =>
      assert(rows.map(_._2).sorted.toSeq == Seq(1, 2, 3))
      assert(!rows.exists(_._3 == q))
    }
  }

  test("top-1 neighbor is the true argmax cosine (cross-check in Scala)") {
    val vecs = emb.select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect().toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val q = (v: Array[Float]) => v.map(x => math.round(x.toDouble * 1000))
      val qa = q(a); val qb = q(b)
      val dot = qa.zip(qb).map { case (x, y) => x * y }.sum.toDouble
      val n2 = qb.map(x => x * x).sum.toDouble
      math.signum(dot) * dot * dot / n2
    }
    val spark1 = Similarity.bruteForceTopK(emb, k = 1, nQueries = 3)
      .as[(Long, Int, Long)].collect().map(r => r._1 -> r._3).toMap
    (0L until 3L).foreach { q =>
      val best = vecs.keys.filter(_ != q)
        .maxBy(n => (cos(vecs(q), vecs(n)), -n))
      assert(spark1(q) == best, s"query $q")
    }
  }

  test("ivf nprobe=1 equals the argmax-cell search; nprobe=nlist equals brute force") {
    val one = Similarity.ivfTopKProbe(emb, nprobe = 1)
      .as[(Long, Int, Long)].collect().toSet
    val argmax = Similarity.ivfTopK(emb).as[(Long, Int, Long)].collect().toSet
    assert(one == argmax)
    val nlist = Similarity.ivfCentroids(emb).size
    val all = Similarity.ivfTopKProbe(emb, nprobe = nlist)
      .as[(Long, Int, Long)].collect().toSet
    val brute = Similarity.bruteForceTopK(emb).as[(Long, Int, Long)].collect().toSet
    assert(all == brute) // probing every cell = the exact search
  }

  test("cosine near-dups find every planted exact and nudged pair") {
    val pairs = Similarity.cosineNearDups(emb)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    val ids = emb.select($"vec_id").as[Long].collect()
    val plantedExact = ids.filter(_ % 10 == 0).map(id => (id, id + 100000)).toSet
    val plantedNear = ids.filter(_ % 10 == 1).map(id => (id, id + 200000)).toSet
    assert((plantedExact -- pairs).isEmpty, "exact copies share every sign bit")
    // a one-quantum nudge keeps cosine ~1; allow rare bucket-boundary misses
    val foundNear = plantedNear.intersect(pairs)
    assert(foundNear.size >= (plantedNear.size * 9) / 10,
      s"found ${foundNear.size}/${plantedNear.size} nudged pairs")
  }

  test("IVF cell assignment is a narrow pass: zero shuffles in the plan") {
    val plan = Similarity.ivfCells(emb).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      "argmax over the broadcast centroid literal must not shuffle:\n" + plan)
    assert(!plan.contains("Join"), "cell assignment must not join")
  }

  test("IVF cells: every vector assigned; deterministic; top-k well-formed") {
    val cells = Similarity.ivfCells(emb).select($"vec_id", $"cell")
      .as[(Long, Long)].collect().toMap
    assert(cells.size == emb.count())
    assert(cells.values.toSet.size > 1, "all vectors in one cell")
    val again = Similarity.ivfCells(emb).select($"vec_id", $"cell")
      .as[(Long, Long)].collect().toMap
    assert(cells == again)
    val topk = Similarity.ivfTopK(emb, k = 3, nQueries = 5)
      .as[(Long, Int, Long)].collect()
    topk.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._2).distinct.size == rows.size) // dense unique ranks
      assert(!rows.exists(_._3 == q))
      // nprobe=1: all neighbors share the query's cell
      rows.foreach(r => assert(cells(r._3) == cells(q)))
    }
    // some overlap with the exact answers across queries (loose recall floor)
    val exact = Similarity.bruteForceTopK(emb, k = 3, nQueries = 5)
      .as[(Long, Int, Long)].collect().map(r => (r._1, r._3)).toSet
    val approx = topk.map(r => (r._1, r._3)).toSet
    assert(exact.intersect(approx).nonEmpty)
  }

  test("LSH buckets are deterministic and non-degenerate") {
    val b1 = Similarity.lshBuckets(emb).as[(Long, Long)].collect().toMap
    val b2 = Similarity.lshBuckets(emb).as[(Long, Long)].collect().toMap
    assert(b1 == b2)
    assert(b1.values.toSet.size > 1, "all vectors hashed to one bucket")
  }
}

class TextAnalysisSpec extends SparkTestBase {
  import spark.implicits._

  lazy val docs = TextAnalysis.documents(spark, sfDir).cache()

  test("token counts: ws tokens <= bpe-ish tokens, none zero") {
    val bad = TextAnalysis.tokenCounts(docs)
      .filter($"n_ws_tokens" === 0 || $"n_bpeish_tokens" < $"n_ws_tokens").count()
    assert(bad == 0)
  }

  test("fingerprint: identical text → identical print; appended token changes it") {
    val fp = TextAnalysis.fingerprint(
      Dedup.withPlantedDups(docs)).as[(Long, Long)].collect().toMap
    docs.select($"doc_id").as[Long].collect().foreach { id =>
      if (id % 10 == 0) assert(fp(id) == fp(id + 100000))
      if (id % 10 == 1) assert(fp(id) != fp(id + 200000))
    }
  }

  test("langid predicts a language for every doc") {
    val p = TextAnalysis.langId(docs)
    assert(p.filter($"predicted_lang".isNull).count() == 0)
  }
}

class MultimodalSpec extends SparkTestBase {
  import spark.implicits._

  test("fake codec: histogram mass equals payload size; features L1-normalized") {
    val feats = Multimodal.extractFeatures(Multimodal.assets(spark, sfDir)).cache()
    val rows = feats.collect()
    assert(rows.length == 500)
    rows.take(50).foreach { f =>
      assert(f.histogram.sum == f.n_bytes)
      assert(math.abs(f.feature.sum - 1.0f) < 1e-3)
      assert(f.feature.length == 16)
    }
    assert(rows.map(_.kind).toSet == Set("image", "audio", "video"))
  }

  test("media pipeline stays distributed: partition count preserved") {
    val a = Multimodal.assets(spark, sfDir)
    val f = Multimodal.extractFeatures(a)
    assert(f.rdd.getNumPartitions == a.rdd.getNumPartitions)
  }

  test("REAL BMP codec: encode→decode round-trips pixels, padding and row order") {
    import graft.data.RealCodec
    // w=3 forces 3 bytes of row padding; bottom-up rows must flip back
    val img = RealCodec.decodeBmp(RealCodec.encodeBmp(3, 2, seed = 5))
    assert(img.width == 3 && img.height == 2)
    for (y <- 0 until 2; x <- 0 until 3)
      assert(img.pixels(y * 3 + x) == RealCodec.pix(x, y, 5), s"($x,$y)")
  }

  test("REAL WAV codec: PCM16 round-trip, duration, RMS") {
    import graft.data.RealCodec
    val au = RealCodec.decodeWav(RealCodec.encodeWav(400, 8000, seed = 7))
    assert(au.sampleRate == 8000 && au.samples.length == 400)
    (0 until 400).foreach(i => assert(au.samples(i) == RealCodec.sample(i, 7)))
    assert(au.rms > 0)
  }

  test("REAL frame container: count + stride sampling decode to valid frames") {
    import graft.data.RealCodec
    val frames = (0 until 5).map(f => RealCodec.encodeBmp(4, 3, seed = f))
    val vid = RealCodec.encodeVideo(frames)
    assert(RealCodec.frameCount(vid) == 5)
    val sampled = RealCodec.sampleFrames(vid, 2) // frames 0, 2, 4
    assert(sampled.length == 3)
    sampled.zip(Seq(0, 2, 4)).foreach { case (f, seed) =>
      val img = RealCodec.decodeBmp(f)
      assert(img.pixels(0) == RealCodec.pix(0, 0, seed))
    }
  }

  test("codec hardening: malformed payloads fail as clean codec errors") {
    import graft.data.RealCodec
    // stride must be positive, not an ArithmeticException downstream
    val vid = RealCodec.encodeVideo(Seq(RealCodec.encodeBmp(2, 2, seed = 1)))
    assert(intercept[IllegalArgumentException] {
      RealCodec.sampleFrames(vid, 0)
    }.getMessage.contains("stride"))
    // truncated pixel data: bounds-checked, not AIOOBE
    val good = RealCodec.encodeBmp(4, 4, seed = 2)
    val truncated = good.take(good.length - 10)
    assert(intercept[IllegalArgumentException] {
      RealCodec.decodeBmp(truncated)
    }.getMessage.contains("BMP"))
    // header lies about dimensions: caught before allocation
    val lying = good.clone()
    java.nio.ByteBuffer.wrap(lying).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(18, 1000000) // width far beyond payload
    assert(intercept[IllegalArgumentException] {
      RealCodec.decodeBmp(lying)
    }.getMessage.contains("BMP"))
  }

  test("real-codec corpus: every payload is format-conformant and decodable") {
    val decoded = Multimodal.mediaDecodeSummary(spark, sfDir).cache()
    assert(decoded.count() == 500)
    assert(decoded.filter(col("kind") === "video").filter(col("n_frames") =!= 3).count() == 0)
    assert(decoded.filter(col("metric_x1000") <= 0).count() == 0)
    decoded.unpersist()
  }
}

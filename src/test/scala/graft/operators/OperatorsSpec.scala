package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OperatorsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark()

  import org.apache.spark.sql.DataFrame

  private def docs(): DataFrame = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again and again!"), // near-dup of 1
      (3L, "completely different content about spark columnar compression engines at scale"),
      (4L, "the quick brown fox jumps over the lazy dog again and again and again"), // exact dup of 1
      (5L, "der schnelle braune fuchs springt über den faulen hund und ist nicht müde"))
      .toDF("doc_id", "text")
  }

  test("exact dedup keeps one representative per identical text") {
    val out = Dedup.exactDedup(docs(), "doc_id", "text").collect().map(_.getLong(0)).sorted
    assert(out.toSeq == Seq(1L, 2L, 3L, 5L)) // 4 collapses into 1
  }

  test("minhash-LSH finds near-duplicate and exact-duplicate pairs, not unrelated ones") {
    val pairs = Dedup.minhashPairs(docs(), "doc_id", "text",
      numHashes = 64, bands = 16, shingleSize = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)), "exact dup pair must be found")
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L)), "near dup pair must be found")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), "unrelated doc must not pair")
  }

  test("simhash hamming distance separates near-dups from unrelated docs") {
    val h1 = Dedup.simhash64("the quick brown fox jumps over the lazy dog again and again", 2)
    val h2 = Dedup.simhash64("the quick brown fox jumps over the lazy dog again and again!", 2)
    val h3 = Dedup.simhash64("completely different content about spark columnar compression", 2)
    assert(java.lang.Long.bitCount(h1 ^ h2) <= 8)
    assert(java.lang.Long.bitCount(h1 ^ h3) > 12)
    val pairs = Dedup.simhashPairs(docs(), "doc_id", "text", maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)))
  }

  test("ngram jaccard: identical=1, disjoint=0") {
    import spark.implicits._
    val df = Seq(("a b c d e f", "a b c d e f", "x y z w v u")).toDF("t1", "t2", "t3")
    val r = df.select(
      Dedup.ngramJaccard(col("t1"), col("t2"), 2).as("same"),
      Dedup.ngramJaccard(col("t1"), col("t3"), 2).as("diff")).head()
    assert(r.getDouble(0) == 1.0)
    assert(r.getDouble(1) == 0.0)
  }

  test("brute-force top-k returns the true nearest by cosine; ANN recalls the top hit") {
    import spark.implicits._
    val dim = 16
    val base = Array.tabulate(dim)(i => math.sin(i + 1).toFloat)
    def scaled(f: Float) = base.map(_ * f)
    def noisy(seed: Int) = {
      val r = new scala.util.Random(seed)
      Array.fill(dim)(r.nextFloat() * 2 - 1)
    }
    val vecs = Seq(
      (1L, scaled(1.0f)),     // cosine 1.0 with query
      (2L, scaled(2.0f)),     // cosine 1.0 (same direction)
      (3L, noisy(7)), (4L, noisy(8)), (5L, noisy(9)))
    val df = vecs.toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(df, "vec_id", "embedding", base, 2)
      .collect().map(_.getLong(0)).toSet
    assert(top == Set(1L, 2L))
    // persisted index: probe must read only matching bucket partitions
    val idx = java.nio.file.Files.createTempDirectory("ann-idx-").toString
    Similarity.buildIndex(df, "vec_id", "embedding", planes = 4, idx)
    val annQ = Similarity.annTopK(spark, idx, "vec_id", "embedding", base, 2, planes = 4)
    val ann = annQ.collect().map(_.getLong(0)).toSet
    assert(ann.contains(1L) || ann.contains(2L), "ANN must recall a same-direction vector")
    // partition pruning evidence: the scan reads <= planes+1 of the bucket dirs
    val scan = annQ.queryExecution.executedPlan.collectLeaves().head.toString()
    assert(scan.contains("PartitionFilters") || scan.contains("bucket"),
      s"probe should prune on the bucket partition column:\n$scan")
  }

  test("IVF index: deterministic centroids, cell-partition probe recalls planted vectors") {
    import spark.implicits._
    val dim = 16
    val r = new scala.util.Random(5)
    val base = Array.tabulate(dim)(i => math.sin(i + 1).toFloat)
    val vecs = (1L to 200L).map(id => (id, Array.fill(dim)(r.nextFloat() * 2 - 1))) ++
      Seq((900L, base), (901L, base.map(_ * 1.001f)))
    val df = vecs.toDF("vec_id", "embedding")
    val idx = java.nio.file.Files.createTempDirectory("ivf-idx-").toString
    val cents = Similarity.buildIvfIndex(df, "vec_id", "embedding", k = 8, idx)
    // determinism: same data -> same centroids (mirror the unbiased bottom-k-by-
    // id-hash sample rule buildIvfIndex uses)
    val cents2 = Similarity.trainCentroids(
      df.select($"vec_id".cast("long").as("id"), expr("cast(embedding as array<double>)").as("v"))
        .orderBy(xxhash64($"id"), $"id").limit(4096)
        .select($"v").as[Array[Double]].collect(), 8)
    assert(cents.map(_.toSeq).toSeq == cents2.map(_.toSeq).toSeq)
    assert(Similarity.loadCentroids(idx).map(_.toSeq).toSeq == cents.map(_.toSeq).toSeq)
    val top = Similarity.ivfTopK(spark, idx, "vec_id", "embedding", base, 2, nProbe = 3)
      .collect().map(_.getLong(0)).toSet
    assert(top == Set(900L, 901L), s"IVF probe must recall the planted twins, got $top")
    // probe reads only the selected cell partitions
    val scan = Similarity.ivfTopK(spark, idx, "vec_id", "embedding", base, 2, nProbe = 3)
      .queryExecution.executedPlan.collectLeaves().head.toString()
    assert(scan.contains("PartitionFilters") || scan.contains("cell"), scan)
  }

  test("embedding near-dups finds the scaled twin") {
    import spark.implicits._
    val dim = 16
    val base = Array.tabulate(dim)(i => math.cos(i + 1))
    val r = new scala.util.Random(3)
    val df = Seq(
      (1L, base), (2L, base.map(_ * 1.0001)),
      (3L, Array.fill(dim)(r.nextDouble() * 2 - 1))).toDF("id", "v")
    val pairs = Dedup.embeddingNearDups(df, "id", "v", bands = 4, bandBits = 4, minCosine = 0.99)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("degenerate docs: empty/short texts don't crash shingles, simhash, or pair mining") {
    import spark.implicits._
    // empty doc + one-word doc + normal docs (ADVICE: sequence(0,-1)/slice(start=0)
    // threw INVALID_PARAMETER_VALUE.START on any corpus with a short document)
    val df = Seq(
      (1L, ""), (2L, "one"), (3L, "two words"),
      (4L, "a normal sentence with enough words to shingle properly"),
      (5L, "a normal sentence with enough words to shingle properly"))
      .toDF("doc_id", "text")
    val j = df.select(Dedup.ngramJaccard(col("text"), concat(col("text"), lit(" t")), 3).as("j"))
      .collect().map(_.getDouble(0))
    assert(j.length == 5 && j.forall(v => v >= 0.0 && v <= 1.0))
    assert(df.select(Dedup.shingles(col("text"), 3)).collect().length == 5)

    // short docs get DISTINCT simhashes (not all 0 -> no quadratic hamming-0 bucket)
    assert(Dedup.simhash64("one", 2) != Dedup.simhash64("two", 2))
    assert(Dedup.simhash64("", 2) != Dedup.simhash64("one", 2))
    val pairs = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((4L, 5L)), "exact dup must pair")
    assert(!pairs.contains((1L, 2L)) && !pairs.contains((2L, 3L)),
      "distinct short docs must not pair as hamming-0")
    // minhash pair mining survives the same corpus
    Dedup.minhashPairs(df, "doc_id", "text", numHashes = 16, bands = 8,
      shingleSize = 3, threshold = 0.9).collect()
  }

  test("LSH bucket caps bound the within-bucket self-join (mega-cluster guard)") {
    import spark.implicits._
    // 40 identical docs = one bucket of 40 -> 780 pairs uncapped; cap 10 drops it
    val boiler = (1L to 40L).map(i => (i, "the same boilerplate page text repeated everywhere"))
    val df = (boiler :+ ((100L, "another unique document entirely different content here"))
      :+ ((101L, "another unique document entirely different content here")))
      .toDF("doc_id", "text")
    Dedup.lastCapReport = None
    val capped = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 3, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.contains((100L, 101L)), "small-bucket pairs survive the cap")
    assert(!capped.exists(p => p._1 <= 40L), "mega-bucket pairs are dropped by the cap")
    // no silent caps: the observed-metrics listener reported the drop
    val deadline = System.currentTimeMillis() + 20000
    while (Dedup.lastCapReport.isEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    val report = Dedup.lastCapReport.getOrElse(fail("over-cap drop was not reported"))
    assert(report.droppedBuckets >= 1 && report.maxBucket == 40,
      s"cap report must carry the dropped volume: $report")
    val uncapped = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 3,
      maxBucket = Int.MaxValue).count()
    assert(uncapped == 40L * 39 / 2 + 1)
  }

  test("the DEFAULT bucket cap guards a planted mega-cluster") {
    import spark.implicits._
    // one boilerplate cluster just over the default cap: uncapped it alone would
    // emit ~8.4M pairs; with defaults the mining stays bounded and the distinct
    // near-dup pair elsewhere is still found
    val mega = (1L to (Dedup.DefaultMaxBucket + 10).toLong)
      .map(i => (i, "identical boilerplate navigation footer text on every single page"))
    val df = (mega :+ ((9000001L, "a genuinely distinct article about spark columnar codecs"))
      :+ ((9000002L, "a genuinely distinct article about spark columnar codecs")))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((9000001L, 9000002L)), "normal pairs survive the default cap")
    assert(!pairs.exists(_._1 <= Dedup.DefaultMaxBucket + 10L),
      "the default cap must drop the mega-cluster's quadratic pair set")
  }

  test("multi-table ANN: recall >= 0.9 for planted cosine~0.95 neighbors at 2^16 buckets") {
    import spark.implicits._
    // 100k deterministic random vectors + 50 neighbors planted at cosine EXACTLY
    // 0.95 (c*q + sqrt(1-c^2)*orthogonal noise — not the c~1.0 twins the driver
    // oracle uses, which share every sign bit and hide recall loss)
    val dim = 64; val n = 100000; val nPlant = 50
    def mx(x0: Long): Long = {
      var x = x0 + 0x9E3779B97F4A7C15L
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      x ^ (x >>> 31)
    }
    def vec(seed: Long): Array[Double] =
      Array.tabulate(dim)(j => mx(seed * 1000003L + j).toDouble / Long.MaxValue.toDouble)
    def unit(v: Array[Double]): Array[Double] = {
      val nrm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / nrm)
    }
    val qh = unit(vec(999999999L))
    val c = 0.95; val s = math.sqrt(1 - c * c)
    val planted = (0 until nPlant).map { i =>
      val r = vec(5000000L + i)
      val d = r.zip(qh).map { case (a, b) => a * b }.sum
      val oh = unit(r.zip(qh).map { case (a, b) => a - d * b })
      (1000000L + i.toLong, qh.zip(oh).map { case (a, b) => c * a + s * b })
    }
    val base = (0 until n).map(i => (i.toLong, vec(i.toLong)))
    val df = spark.createDataset(base ++ planted).toDF("vec_id", "embedding")

    val planes = 16; val tables = 4 // 2^16 buckets per table; r1~0.51, L=4 -> ~0.94
    val bucketed = Similarity.withBuckets(df, "vec_id", "embedding", planes, tables)
      .cache()
    val cands = bucketed.where(Similarity.probeFilter(qh, planes, tables, dim))
      .select($"vec_id").distinct().as[Long].collect().toSet
    val found = planted.count(p => cands(p._1))
    val recall = found.toDouble / nPlant
    info(s"multi-table recall=$recall ($found/$nPlant), candidates=${cands.size}")
    assert(recall >= 0.9, s"4-table recall $recall below 0.9")

    // the same data through ONE table (the round-1/2 design) must do measurably
    // worse — this is exactly why the index is multi-table now
    val single = bucketed.where($"table" === 0 &&
        Similarity.probeFilter(qh, planes, 1, dim))
      .select($"vec_id").distinct().as[Long].collect().toSet
    val singleRecall = planted.count(p => single(p._1)).toDouble / nPlant
    info(s"single-table recall=$singleRecall")
    assert(singleRecall < recall, "multi-table must beat single-table recall")
    bucketed.unpersist()
  }

  test("persisted multi-table index: probe scans only probed partitions, finds planted twin") {
    import spark.implicits._
    val dim = 16
    def mx(x: Long): Long = { var y = x + 0x9E3779B97F4A7C15L; y = (y ^ (y >>> 30)) * 0xBF58476D1CE4E5B9L; y ^ (y >>> 27) }
    val base = (0 until 2000).map(i =>
      (i.toLong, Array.tabulate(dim)(j => mx(i.toLong * 37 + j).toDouble / Long.MaxValue)))
    val query = Array.tabulate(dim)(j => math.cos(j * 0.7).toFloat)
    val twin = (777777L, query.map(v => v.toDouble * 1.001))
    val df = spark.createDataset(base :+ twin).toDF("vec_id", "embedding")
    val idx = java.nio.file.Files.createTempDirectory("graft-mt-ann-").toString
    Similarity.buildIndex(df, "vec_id", "embedding", planes = 8, idx, tables = 2)
    val top = Similarity.annTopK(spark, idx, "vec_id", "embedding", query, 1,
      planes = 8, tables = 2)
    // partition pruning: only the probed (table, bucket) dirs are scanned
    val plan = top.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters:") &&
      (plan.contains("table#") || plan.contains("(table")),
      s"probe must prune on the table/bucket partition columns:\n$plan")
    assert(top.collect().head.getLong(0) == 777777L)
  }

  test("batched ANN probes: row-identical to per-query annTopK, one distributed plan") {
    import spark.implicits._
    val dim = 16
    def mx(x: Long): Long = { var y = x + 0x9E3779B97F4A7C15L; y = (y ^ (y >>> 30)) * 0xBF58476D1CE4E5B9L; y ^ (y >>> 27) }
    val base = (0 until 2000).map(i =>
      (i.toLong, Array.tabulate(dim)(j => mx(i.toLong * 37 + j).toDouble / Long.MaxValue)))
    // three directionally-distinct queries; each gets two planted twins whose
    // positive scaling keeps sign bits (bucket) AND cosine == 1.0 exactly
    // float-precision values: annTopK takes Array[Float], so the batch side
    // must see the identical doubles or cosines differ in the last ulps
    val qs = (0 until 3).map(qi =>
      (qi.toLong, Array.tabulate(dim)(j => math.cos(j * 0.7 + qi * 1.9).toFloat.toDouble)))
    val twins = qs.flatMap { case (qi, v) =>
      Seq((900000L + qi * 10, v.map(_ * 1.01)), (900001L + qi * 10, v.map(_ * 0.43)))
    }
    val df = spark.createDataset(base ++ twins).toDF("vec_id", "embedding")
    val idx = java.nio.file.Files.createTempDirectory("graft-batch-ann-").toString
    Similarity.buildIndex(df, "vec_id", "embedding", planes = 8, idx, tables = 2)

    val queriesDf = spark.createDataset(qs).toDF("qid", "qvec")
    val batch = Similarity.annTopKBatch(spark, idx, "vec_id", "embedding",
      queriesDf, "qid", "qvec", k = 5, planes = 8, tables = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).map { case (q, rows) => q -> rows.map(t => (t._2, t._3)).toSeq }

    qs.foreach { case (qi, v) =>
      val single = Similarity.annTopK(spark, idx, "vec_id", "embedding",
        v.map(_.toFloat), 5, planes = 8, tables = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch(qi) == single, s"query $qi: batch must equal per-query annTopK")
      // each query's own twins lead its top-k (cosine exactly 1.0)
      assert(batch(qi).take(2).map(_._1) == Seq(900000L + qi * 10, 900001L + qi * 10))
    }

    // a legacy index (no meta sidecar) is refused loudly, never silently wrong
    val noMeta = java.nio.file.Files.createTempDirectory("graft-batch-nometa-").toString
    Similarity.buildIndex(df, "vec_id", "embedding", planes = 8, noMeta, tables = 2)
    java.nio.file.Files.delete(java.nio.file.Paths.get(noMeta, "_lsh_meta.json"))
    val e = intercept[IllegalArgumentException] {
      Similarity.annTopKBatch(spark, noMeta, "vec_id", "embedding",
        queriesDf, "qid", "qvec", 5, planes = 8, tables = 2)
    }
    assert(e.getMessage.contains("_lsh_meta"))

    // qid names that collide with index/probe internals ('table', 'bucket',
    // the vector column) must still work — the plan uses reserved internal
    // names and restores the caller's name at the end
    for (qname <- Seq("table", "bucket", "embedding")) {
      val renamed = queriesDf.withColumnRenamed("qid", qname)
      val col0 = Similarity.annTopKBatch(spark, idx, "vec_id", "embedding",
        renamed, qname, "qvec", k = 5, planes = 8, tables = 2)
      assert(col0.columns.head == qname, s"output must carry '$qname' back")
      val byQ = col0.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).map { case (q, rows) => q -> rows.map(t => (t._2, t._3)).toSeq }
      assert(byQ == batch, s"qidCol='$qname' must not change results")
    }
    // a qid name equal to the OUTPUT id column would yield a duplicate-named
    // result — refused with remediation, not an AnalysisException deep in the plan
    val dup = intercept[IllegalArgumentException] {
      Similarity.annTopKBatch(spark, idx, "vec_id", "embedding",
        queriesDf.withColumnRenamed("qid", "vec_id"), "vec_id", "qvec", 5,
        planes = 8, tables = 2)
    }
    assert(dup.getMessage.contains("collides"))
  }

  test("batched IVF probes: row-identical to per-query ivfTopK") {
    import spark.implicits._
    val dim = 16
    def mx(x: Long): Long = { var y = x + 0x9E3779B97F4A7C15L; y = (y ^ (y >>> 30)) * 0xBF58476D1CE4E5B9L; y ^ (y >>> 27) }
    val base = (0 until 2000).map(i =>
      (i.toLong, Array.tabulate(dim)(j => mx(i.toLong * 41 + j).toDouble / Long.MaxValue)))
    val qs = (0 until 3).map(qi =>
      (qi.toLong, Array.tabulate(dim)(j => math.cos(j * 0.6 + qi * 2.1).toFloat.toDouble)))
    val twins = qs.flatMap { case (qi, v) =>
      Seq((800000L + qi * 10, v.map(_ * 1.02)), (800001L + qi * 10, v.map(_ * 0.37)))
    }
    val df = spark.createDataset(base ++ twins).toDF("vec_id", "embedding")
    val idx = java.nio.file.Files.createTempDirectory("graft-batch-ivf-").toString
    Similarity.buildIvfIndex(df, "vec_id", "embedding", k = 8, idx)

    val queriesDf = spark.createDataset(qs).toDF("qid", "qvec")
    val batch = Similarity.ivfTopKBatch(spark, idx, "vec_id", "embedding",
      queriesDf, "qid", "qvec", k = 5, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).map { case (q, rows) => q -> rows.map(t => (t._2, t._3)).toSeq }
    qs.foreach { case (qi, v) =>
      val single = Similarity.ivfTopK(spark, idx, "vec_id", "embedding",
        v.map(_.toFloat), 5, nProbe = 3)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch(qi) == single, s"query $qi: batch must equal per-query ivfTopK")
      // a planted twin must lead at cosine ~1.0 (which of the two wins is
      // floating-point: both are exactly collinear, and euclidean cell
      // assignment may even leave the far-scaled one unprobed)
      val twinIds = Set(800000L + qi * 10, 800001L + qi * 10)
      assert(twinIds(batch(qi).head._1) && batch(qi).head._2 > 0.9999,
        s"query $qi: a planted twin must lead: ${batch(qi)}")
    }
    // a qid named like the index's partition column still works
    val renamed = Similarity.ivfTopKBatch(spark, idx, "vec_id", "embedding",
      queriesDf.withColumnRenamed("qid", "cell"), "cell", "qvec", k = 5, nProbe = 3)
    assert(renamed.columns.head == "cell" && renamed.count() == 15)
    // output-colliding qid is refused with remediation
    val dup = intercept[IllegalArgumentException] {
      Similarity.ivfTopKBatch(spark, idx, "vec_id", "embedding",
        queriesDf.withColumnRenamed("qid", "vec_id"), "vec_id", "qvec", 5, nProbe = 3)
    }
    assert(dup.getMessage.contains("collides"))

    // the kernel's bounded selection ranks exactly like a stable sortBy
    // (ties by lower index) — the contract the row-identity above rides on
    val cs = Similarity.loadCentroids(idx)
    def dst(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    qs.foreach { case (_, v) =>
      assert(Similarity.nearestCells(v, cs, 3).toSeq ==
        cs.indices.sortBy(c => dst(v, cs(c))).take(3))
    }
    val tied = Array(Array(1.0), Array(1.0), Array(0.5))
    assert(Similarity.nearestCells(Array(0.0), tied, 2).toSeq == Seq(2, 0),
      "equal distances must keep index order (stable)")
    // null/empty-vector queries are absent, never fail the batch
    val withBad = queriesDf.union(Seq((9L, Array.empty[Double])).toDF("qid", "qvec"))
    val sane = Similarity.ivfTopKBatch(spark, idx, "vec_id", "embedding",
      withBad, "qid", "qvec", k = 5, nProbe = 3)
    assert(sane.where(col("qid") === 9L).count() == 0 && sane.count() == 15)
  }

  test("stratified sampling: deterministic, rate-respecting, null-safe") {
    import spark.implicits._
    import graft.operators.Sampling
    val df = spark.range(40000).select(
      col("id"),
      when(col("id") % 10 < 6, "en").when(col("id") % 10 < 9, "de").as("lang"))
    // lang: 60% en, 30% de, 10% NULL (falls to defaultRate)
    val s1 = Sampling.stratifiedSample(df, "id", "lang",
      Map("en" -> 0.5, "de" -> 0.1), defaultRate = 1.0)
    val s2 = Sampling.stratifiedSample(df, "id", "lang",
      Map("en" -> 0.5, "de" -> 0.1), defaultRate = 1.0)
    // bit-deterministic: identical row sets across runs
    assert(s1.collect().map(_.toString).sorted.toSeq ==
      s2.collect().map(_.toString).sorted.toSeq)
    val byLang = s1.groupBy(col("lang")).count().collect()
      .map(r => Option(r.getString(0)).getOrElse("NULL") -> r.getLong(1)).toMap
    // md5-uniform Bernoulli: observed rates within 3 sigma of the target
    def within(n: Long, total: Long, rate: Double): Boolean =
      math.abs(n - total * rate) <= 3 * math.sqrt(total * rate * (1 - rate)) + 1
    assert(within(byLang("en"), 24000, 0.5), s"en: $byLang")
    assert(within(byLang("de"), 12000, 0.1), s"de: $byLang")
    // defaultRate 1.0 keeps the whole NULL stratum
    assert(byLang("NULL") == 4000L, s"default 1.0 must keep all: $byLang")
    // rate 0 drops (essentially) everything; rate bounds validated
    assert(Sampling.stratifiedSample(df, "id", "lang",
      Map.empty, defaultRate = 0.0).count() == 0L)
    intercept[IllegalArgumentException] { Sampling.hexThreshold(1.5) }
    // positive rates never silently truncate to zero: 1e-10 rounds UP to one
    // 2^-32 grid point, so the keep-set is merely tiny, not empty
    assert(Sampling.hexThreshold(1e-10) == "00000001")
    assert(Sampling.hexThreshold(0.0) == "00000000")
    // NULL keys never sample in (md5(NULL) is NULL — no silent correlation)
    val withNullKeys = df.select(
      when(col("id") % 2 === 0, col("id")).as("id"), col("lang"))
    assert(Sampling.stratifiedSample(withNullKeys, "id", "lang",
      Map.empty, defaultRate = 1.0).count() == 20000L)
    // subsample property: a stratum's 0.1 sample is a subset of its 0.5 sample
    // (same key hash, lower threshold) — lets curriculum stages nest exactly
    val wide = Sampling.stratifiedSample(df, "id", "lang", Map("en" -> 0.5), 0.0)
      .select("id").as[Long].collect().toSet
    val narrow = Sampling.stratifiedSample(df, "id", "lang", Map("en" -> 0.1), 0.0)
      .select("id").as[Long].collect().toSet
    assert(narrow.subsetOf(wide) && narrow.nonEmpty)
  }

  test("text analysis: token counts, quality, lang id, fingerprints") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat sat on the mat with a hat and that is that for now"),
      (2L, "der hund und die katze sind nicht ein fisch und das ist gut"),
      (3L, ""),
      (4L, "zzzzz qqqqq xxxxx")).toDF("id", "text")
    val r = df.select(
      col("id"),
      TextAnalysis.tokenCount(col("text")).as("tc"),
      TextAnalysis.langIdHeuristic(col("text")).as("lang"),
      TextAnalysis.qualityScore(col("text")).as("q"),
      TextAnalysis.fingerprint(col("text")).as("fp")).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getInt(1) == 15)
    assert(r(3L).getInt(1) == 0)
    assert(r(1L).getString(2) == "en")
    assert(r(2L).getString(2) == "de")
    assert(r(1L).getDouble(3) > r(4L).getDouble(3), "stopword-rich text scores above gibberish")
    // fingerprint is whitespace/case-insensitive
    val fps = Seq(("THE  cat sat", "the cat  sat")).toDF("a", "b")
      .select(TextAnalysis.fingerprint(col("a")) === TextAnalysis.fingerprint(col("b"))).head()
    assert(fps.getBoolean(0))
    // subword/piece tokenization: camel splits only in the lookaround variant
    val sub = Seq(("fooBar42, baz!", 0)).toDF("t", "z").select(
      TextAnalysis.subwordCount(col("t")), TextAnalysis.pieceCount(col("t"))).head()
    assert(sub.getInt(0) == 6, s"foo|Bar|42|,|baz|! -> ${sub.getInt(0)}")
    assert(sub.getInt(1) == 5, s"fooBar|42|,|baz|! -> ${sub.getInt(1)}")
  }

  test("multimodal plumbing: feature extraction is deterministic, frame sampling fans out") {
    val media = Multimodal.synthesize(spark, 60, 4)
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.length == 60)
    assert(feats.forall(_.features.length == Multimodal.FeatureDim))
    val again = Multimodal.extractFeatures(Multimodal.synthesize(spark, 60, 4)).collect()
    assert(feats.sortBy(_.mediaId).zip(again.sortBy(_.mediaId))
      .forall { case (a, b) => a.features.sameElements(b.features) })

    val frames = Multimodal.sampleFrames(media.toDF(), everyMs = 500)
    val perVideo = frames.groupBy("media_id").count().collect()
    assert(perVideo.nonEmpty)
    // a video of durationMs d sampled every 500ms yields ceil(d/500) frames
    val m = media.collect().filter(_.meta.kind == "video").map(r => r.meta.mediaId -> r.meta.durationMs).toMap
    perVideo.foreach { r =>
      val expected = (m(r.getLong(0)) + 499) / 500
      assert(r.getLong(1) == expected, s"video ${r.getLong(0)}")
    }
  }

  test("real image decode: JDK imageio recovers PNG geometry and color; junk is safe") {
    import spark.implicits._
    // distributed round-trip: encode known solid PNGs, decode via the kernel
    val imgs = spark.range(0, 64, 1, 4).as[Long].map { id =>
      val w = 3 + (id % 9).toInt
      val h = 2 + (id % 5).toInt
      (id, Multimodal.syntheticPng(w, h, (id * 7 % 256).toInt, (id * 11 % 256).toInt,
        (id * 13 % 256).toInt))
    }.toDF("media_id", "payload")
    val out = Multimodal.imageMeta(imgs, "media_id", "payload").collect()
    assert(out.length == 64 && out.forall(_.ok))
    out.foreach { i =>
      assert(i.format == "png")
      assert(i.width == 3 + (i.media_id % 9).toInt && i.height == 2 + (i.media_id % 5).toInt)
      assert(i.mean_r == (i.media_id * 7 % 256).toInt &&
        i.mean_g == (i.media_id * 11 % 256).toInt && i.mean_b == (i.media_id * 13 % 256).toInt)
    }
    // non-solid image: exact integer means of a known two-color split
    val half = {
      val img = new java.awt.image.BufferedImage(2, 1, java.awt.image.BufferedImage.TYPE_INT_RGB)
      img.setRGB(0, 0, 0xFF0000); img.setRGB(1, 0, 0x0000FF)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      Multimodal.imageInfo(9L, bos.toByteArray)
    }
    assert((half.mean_r, half.mean_g, half.mean_b) == (127, 0, 127))
    // undecodable / empty payloads degrade to ok=false, never throw
    assert(!Multimodal.imageInfo(1L, Array[Byte](1, 2, 3)).ok)
    assert(Multimodal.imageInfo(1L, Array[Byte](1, 2, 3)).format == "undecodable")
    assert(!Multimodal.imageInfo(2L, Array.emptyByteArray).ok)
    assert(!Multimodal.imageInfo(3L, null).ok)
    // a TRUNCATED real PNG must not kill the task either
    val png = Multimodal.syntheticPng(16, 16, 1, 2, 3)
    assert(!Multimodal.imageInfo(4L, java.util.Arrays.copyOf(png, 20)).ok)
  }

  test("IVF hot-cell salting bounds rows per file; probe semantics unchanged") {
    import spark.implicits._
    // worst-case skew: every vector identical -> ONE cell gets the whole table
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf-skew-").toString
    val skewed = spark.range(5000).select(col("id").as("vec_id"),
      typedLit(Array.fill(8)(1.0f)).as("embedding"))
    Similarity.buildIvfIndex(skewed, "vec_id", "embedding", k = 4, idx,
      maxRowsPerFile = 500)
    // the hot cell must be split across many files, each bounded (collisions of
    // salt groups into shuffle tasks allow a small multiple of the target)
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(idx)).iterator()
    val dataFiles = scala.jdk.CollectionConverters.IteratorHasAsScala(files).asScala
      .filter(f => f.toString.endsWith(".parquet") && f.toString.contains("cell="))
      .map(_.toString).toSeq
    assert(dataFiles.size >= 4, s"hot cell must salt into several files: $dataFiles")
    val perFile = dataFiles.map(f => spark.read.parquet(f).count())
    assert(perFile.sum == 5000L)
    assert(perFile.max <= 2000L,
      s"rows per file must stay bounded under skew: $perFile")
    // probe still exact: all vectors tie on cosine, top-k = lowest ids
    val got = Similarity.ivfTopK(spark, idx, "vec_id", "embedding",
      Array.fill(8)(1.0f), 5, nProbe = 1).select("vec_id").as[Long].collect().toSeq
    assert(got == (0L until 5L), s"probe after salting must stay exact: $got")
  }

  test("IVF salts a hot cell the training sample PROVABLY never saw (exact counts)") {
    import spark.implicits._
    // r4 regression: salts were estimated from the training sample's cell
    // shares, so a cell with expected ZERO sample hits but > maxRowsPerFile
    // rows went unsalted (one straggler file). Construction makes the blindness
    // deterministic: the sample is the bottom-64 ids by xxhash64, the planted
    // hot cluster lives on the TOP-300 ids by the same hash — provably disjoint.
    val dim = 8
    val total = 2860L
    val planted = spark.range(total)
      .select(col("id"), xxhash64(col("id")).as("h"))
      .orderBy(col("h").desc).limit(300).select("id").as[Long].collect().toSet
    def anchor(a: Int): Array[Float] =
      Array.tabulate(dim)(i => if (i == a % dim) (a / dim + 1) * 10.0f else 0.0f)
    val pVec: Array[Float] = { val v = anchor(0); v(1) = 3.0f; v } // anchor-0's cell, not colinear
    val bPlanted = spark.sparkContext.broadcast(planted)
    val df = spark.range(total).map { id =>
      val v = if (bPlanted.value(id)) pVec else anchor((id % 64L).toInt)
      (id, v)
    }.toDF("vec_id", "embedding")
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf-blind-").toString
    Similarity.buildIvfIndex(df, "vec_id", "embedding", k = 64, idx,
      sampleSize = 64, maxRowsPerFile = 100)
    // the planted cell holds ~40 anchor rows + 300 planted = well over the cap;
    // exact counts must salt it into >= 2 files (the sample-share estimator
    // gave it salt 1: its only sample hits were the ~40-row anchor's)
    val cents = Similarity.loadCentroids(idx)
    val cellOfP = Similarity.nearestCell(pVec.map(_.toDouble), cents)
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$idx/cell=$cellOfP"))
    val cellFiles = scala.jdk.CollectionConverters.IteratorHasAsScala(walk.iterator()).asScala
      .filter(_.toString.endsWith(".parquet")).map(_.toString).toSeq
    assert(cellFiles.size >= 2,
      s"sample-blind hot cell $cellOfP must be salted from exact counts: $cellFiles")
    val perFile = cellFiles.map(f => spark.read.parquet(f).count())
    assert(perFile.sum >= 300L && perFile.max <= 300L,
      s"rows per file must stay bounded in the blind cell: $perFile")
    // probe: the planted twins dominate cosine against pVec
    val got = Similarity.ivfTopK(spark, idx, "vec_id", "embedding", pVec, 5, nProbe = 1)
      .select("vec_id").as[Long].collect().toSeq
    assert(got == planted.toSeq.sorted.take(5),
      s"probe must return the 5 lowest planted ids: $got")
  }

  test("real audio decode: JDK sound recovers WAV geometry and exact peak; junk is safe") {
    import spark.implicits._
    val wavs = spark.range(0, 32, 1, 4).as[Long].map { id =>
      (id, Multimodal.syntheticWav(800 + (id % 100).toInt, 16000, 100 + id.toInt * 7))
    }.toDF("media_id", "payload")
    val out = Multimodal.audioMeta(wavs, "media_id", "payload").collect()
    assert(out.length == 32 && out.forall(_.ok))
    out.foreach { a =>
      assert(a.sample_rate == 16000 && a.channels == 1)
      assert(a.frames == 800 + (a.media_id % 100))
      assert(a.duration_ms == a.frames * 1000 / 16000)
      assert(a.peak == 100 + a.media_id.toInt * 7, s"peak must be exact: $a")
    }
    // junk / empty / truncated payloads degrade, never throw
    assert(!Multimodal.audioInfo(1L, Array[Byte](1, 2, 3)).ok)
    assert(!Multimodal.audioInfo(2L, Array.emptyByteArray).ok)
    assert(!Multimodal.audioInfo(3L, null).ok)
    val wav = Multimodal.syntheticWav(1000, 8000, 5)
    assert(!Multimodal.audioInfo(4L, java.util.Arrays.copyOf(wav, 20)).ok)
  }

  test("empty/null/ragged embeddings: filtered out, bucketing dim stays GLOBAL") {
    import spark.implicits._
    val clean = Seq((2L, Array.fill(8)(1.0f)), (4L, Array.fill(8)(0.5f)))
      .toDF("vec_id", "embedding")
    // an EMPTY vector sorted first in the partition previously keyed the whole
    // partition with 0-dim planes (every bucket = 0) — buckets must now match
    // the clean layout exactly
    val dirty = Seq((1L, Array[Float]()), (2L, Array.fill(8)(1.0f)),
        (3L, null.asInstanceOf[Array[Float]]), (4L, Array.fill(8)(0.5f)))
      .toDF("vec_id", "embedding").coalesce(1)
    val bClean = Similarity.withBucket(clean, "vec_id", "embedding", planes = 6)
      .select("vec_id", "bucket").as[(Long, Long)].collect().toMap
    val bDirty = Similarity.withBucket(dirty, "vec_id", "embedding", planes = 6)
      .select("vec_id", "bucket").as[(Long, Long)].collect().toMap
    assert(bDirty.keySet == Set(2L, 4L), "empty/null embeddings must be dropped")
    assert(bDirty == bClean, s"buckets must not depend on partition layout: $bDirty vs $bClean")
    // IVF build survives the same degenerate rows and probes correctly
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf-degenerate-").toString
    Similarity.buildIvfIndex(dirty.union(
      spark.range(16).select((col("id") + 100L).as("vec_id"),
        org.apache.spark.sql.functions.transform(typedLit(Array.fill(8)(0.1f)),
          x => x * col("id").cast("float")).as("embedding"))),
      "vec_id", "embedding", k = 4, idx)
    val got = Similarity.ivfTopK(spark, idx, "vec_id", "embedding",
      Array.fill(8)(1.0f), 1, nProbe = 4).collect()
    assert(got.nonEmpty)
    // wrong-dimension ANN probe is refused (sidecar carries dim)
    val lsh = java.nio.file.Files.createTempDirectory("graft-lsh-dim-").toString
    Similarity.buildIndex(clean, "vec_id", "embedding", planes = 4, lsh)
    val e = intercept[IllegalArgumentException] {
      Similarity.annTopK(spark, lsh, "vec_id", "embedding", Array.fill(16)(1.0f), 1, planes = 4)
    }
    assert(e.getMessage.contains("8-dim") && e.getMessage.contains("16"))
  }

  test("connected components: chains, singletons, off-vertex endpoints, canonical flags") {
    import spark.implicits._
    // chain 1-2-3-4-5 (multi-round propagation), pair 10-11 with a reversed
    // duplicate edge, singleton 20, and edge 30-31 whose endpoints are NOT in
    // the vertex list
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 10L), (30L, 31L)).toDF("a", "b")
    val vertices = Seq(1L, 2L, 3L, 4L, 5L, 10L, 11L, 20L).toDF("id")
    val out = Dedup.connectedComponents(edges, "a", "b", vertices, "id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out == Map(
      1L -> (1L, true), 2L -> (1L, false), 3L -> (1L, false),
      4L -> (1L, false), 5L -> (1L, false),
      10L -> (10L, true), 11L -> (10L, false),
      20L -> (20L, true),
      30L -> (30L, true), 31L -> (30L, false)))
    // refuses to return a partial labeling: the 5-chain needs >1 round
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(edges, "a", "b", vertices, "id", maxRounds = 1)
    }
    assert(e.getMessage.contains("converge"))
  }

  test("large-star/small-star CC converges logarithmically on a long chain; labels match") {
    import spark.implicits._
    // a 2000-vertex PATH — the shape min-label propagation cannot handle
    // (eccentricity 1999 rounds; it must throw at its cap), while the
    // alternation converges in ~log2(n) rounds
    val n = 2000
    val chain = (0 until n - 1).map(i => (i.toLong, i.toLong + 1)).toDF("a", "b")
    val verts = (0 until n).map(_.toLong).toDF("id")
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(chain, "a", "b", verts, "id", maxRounds = 5)
    }
    assert(e.getMessage.contains("converge"))
    val stars = Dedup.connectedComponentsStars(chain, "a", "b", verts, "id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(stars.length == n)
    assert(stars.forall(_._2 == 0L), "the whole path is one component labeled by its min")
    assert(stars.count(_._3) == 1, "exactly one canonical")

    // same labels as min-label on the mixed graph the default-path test uses
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 10L), (30L, 31L)).toDF("a", "b")
    val vertices = Seq(1L, 2L, 3L, 4L, 5L, 10L, 11L, 20L).toDF("id")
    val viaStars = Dedup.connectedComponentsStars(edges, "a", "b", vertices, "id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val viaMinLabel = Dedup.connectedComponents(edges, "a", "b", vertices, "id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(viaStars == viaMinLabel)

    // loud divergence contract is shared (never partial labels)
    val e2 = intercept[IllegalArgumentException] {
      Dedup.connectedComponentsStars(chain, "a", "b", verts, "id", maxRounds = 1)
    }
    assert(e2.getMessage.contains("converge"))

    // empty edge list: everything is its own singleton component
    val lonely = Dedup.connectedComponentsStars(
      Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b", Seq(7L, 8L).toDF("id"), "id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(lonely == Map(7L -> (7L, true), 8L -> (8L, true)))
  }

  test("connected components turns mined near-dup pairs into keep/drop decisions") {
    import spark.implicits._
    val pairs = Dedup.minhashPairs(docs(), "doc_id", "text",
      numHashes = 64, bands = 16, shingleSize = 3, threshold = 0.5)
    val cc = Dedup.connectedComponents(pairs, "a", "b", docs().select("doc_id"), "doc_id")
    val byId = cc.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    // 1,2,4 are one near-dup cluster; 3 and 5 are singletons kept as their own canonicals
    assert(byId(1L) == (1L, true) && byId(4L) == (1L, false))
    assert(byId(2L)._1 == 1L)
    assert(byId(3L) == (3L, true) && byId(5L) == (5L, true))
    // keep = canonical rows only: exactly one survivor per cluster
    val kept = cc.where(col("canonical")).count()
    assert(kept == byId.values.map(_._1).toSet.size)
  }
}

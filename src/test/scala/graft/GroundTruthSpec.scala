package graft

import graft.graph.GraphOps
import graft.pipeline.{Dedup, Quantize, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

/** Hard ground-truth checks for the operators whose driver-side status
  * is rows-only (LSH/ANN/float output — not SQL-oracle-expressible):
  * planted duplicates with known answers, recall against brute force,
  * and an independent re-implementation for winnowing. Also pins the
  * 100 TB property the star-collapse exists for: a giant identical
  * cluster must yield LINEAR pair counts, not quadratic.
  */
class GroundTruthSpec extends SparkSpec {
  import spark.implicits._

  /** 1000-doc identical cluster + distinct fillers. */
  private lazy val clusterDocs = {
    val cluster = (0 until 1000).map(i => (i.toLong, "the quick brown fox jumps over the lazy dog again and again"))
    val fillers = (0 until 50).map(i =>
      (5000L + i, s"unique${i}a filler${i}b text${i}c with${i}d tokens${i}e nothing${i}f shared${i}g"))
    (cluster ++ fillers).toDF("doc_id", "text")
  }

  /** Runs an iterative operator and reads its result, then pins that
    * it leaks no checkpoint: once the caller releases the checkpoints
    * the result is built on, the session holds no more persistent RDDs
    * than before the call. */
  private def leakFree[T](what: String)(call: => org.apache.spark.sql.DataFrame)
                         (read: org.apache.spark.sql.DataFrame => T): T = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = call
    val got = read(out)
    org.apache.spark.sql.graft.Bridge.freeCheckpoint(out)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"$what leaked checkpoints $leaked")
    got
  }
  private def longPairs(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("minhashLsh: 1000-doc identical cluster collapses to 999 star pairs, no quadratic blowup") {
    val pairs = Dedup.minhashLsh(clusterDocs, k = 64, bands = 16, estThreshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val clusterPairs = pairs.filter { case (a, b) => a < 1000 && b < 1000 }
    // star shape: every member pairs with rep 0 exactly once — 999 pairs,
    // NOT the 499,500 an all-pairs bucket join would emit
    assert(clusterPairs.length === 999)
    assert(clusterPairs.forall(_._1 == 0L))
    assert(clusterPairs.map(_._2).toSet === (1L until 1000L).toSet)
    // fillers share no tokens: nothing pairs with them
    assert(pairs.forall { case (a, b) => b < 1000 || a >= 5000 })
  }

  test("simhashPairs: identical cluster collapses to 999 hamming-0 star pairs") {
    val pairs = Dedup.simhashPairs(clusterDocs, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val clusterPairs = pairs.filter(p => p._1 < 1000 && p._2 < 1000)
    assert(clusterPairs.length === 999)
    assert(clusterPairs.forall(p => p._1 == 0L && p._3 == 0))
  }

  test("simhashPairs: planted near-duplicate (one token changed) found at small hamming") {
    // 60 shared tokens, ONE changed: hamming stays small enough that a
    // 16-bit block collides (the algorithm's designed operating point —
    // heavier edits are out of simhash's contract)
    val shared = (0 until 60).map(i => s"token$i").mkString(" ")
    val docs = Seq(
      (1L, shared + " ending"),
      (2L, shared + " different"),
      (3L, "completely other content about weather patterns and ocean currents today")
    ).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(docs, maxHamming = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 <= 16),
      s"near-dup pair not found: ${pairs.mkString(",")}")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  /** Deterministic cluster embeddings: cluster base + tiny per-member
    * perturbation (signs preserved → same LSH bucket). */
  private def clusterVec(c: Int, m: Int, dim: Int): Seq[Double] =
    (0 until dim).map(j => math.sin(c * 31.0 + j * 7.0) + m * 1e-6)

  test("embeddingNearDup: planted clusters — members pair with their rep, never across clusters") {
    val dim = 8
    val rows = for (c <- 0 until 5; m <- 0 until 20)
      yield (c * 100L + m, clusterVec(c, m, dim))
    val emb = rows.toDF("id", "vec")
    val pairs = Dedup.embeddingNearDup(emb, "id", "vec", threshold = 0.999, planes = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // precision: every returned pair is intra-cluster (verified cosine)
    assert(pairs.forall { case (a, b, cos) => a / 100 == b / 100 && cos >= 0.999 })
    // recall: each cluster whose bucket it owns yields all 19 star pairs
    val byCluster = pairs.groupBy(_._1 / 100).view.mapValues(_.length).toMap
    assert(byCluster.values.sum >= 60, s"recall too low: $byCluster")
    // star shape: pair source is always the cluster min id
    assert(pairs.forall { case (a, _, _) => a % 100 == 0 })
  }

  test("keepSurvivors drops exactly the member side of near-dup pairs") {
    val survivors = Dedup.keepSurvivors(clusterDocs,
        Dedup.minhashLsh(clusterDocs, k = 64, bands = 16, estThreshold = 0.8))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // 1000 identical docs collapse to rep 0; all 50 unique fillers survive
    assert(survivors === (Set(0L) ++ (0 until 50).map(i => 5000L + i)))
  }

  test("ivfTopKIndexed over a precomputed index equals inline ivfTopK") {
    val dim = 8
    val emb = (0 until 200).map(i => (i.toLong, clusterVec(i % 24, i / 24, dim)))
      .toDF("id", "vec")
    val probe = clusterVec(3, 50, dim)
    val inline = Similarity.ivfTopK(emb, "id", "vec", probe, 10, nlist = 8, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val idx = Similarity.ivfIndex(emb, "id", "vec", dim, nlist = 8, iters = 2)
    val indexed = Similarity.ivfTopKIndexed(idx, probe, 10, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(indexed === inline)
  }

  test("IVF index round-trips through the persisted sidecar bit-identically") {
    val dim = 8
    val emb = (0 until 200).map(i => (i.toLong, clusterVec(i % 24, i / 24, dim)))
      .toDF("id", "vec")
    val probe = clusterVec(3, 50, dim)
    val idx = Similarity.ivfIndex(emb, "id", "vec", dim, nlist = 8, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-sidecar").toString
    Similarity.writeIvfIndex(idx, dir, version = 7)
    val back = Similarity.readIvfIndex(spark, dir)
    assert(back.centroids === idx.centroids) // full double precision
    val live = Similarity.ivfTopKIndexed(idx, probe, 10, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val persisted = Similarity.ivfTopKIndexed(back, probe, 10, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(persisted === live)
  }

  test("index sidecar publish: same-version re-publish and legacy-layout fallback") {
    val dim = 8
    val emb = (0 until 50).map(i => (i.toLong, clusterVec(i % 5, i / 5, dim)))
      .toDF("id", "vec")
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-publish").toString
    val idx = Similarity.annIndex(emb, "id", "vec", planes = 4)
    Similarity.writeAnnIndex(idx, dir) // default version twice: a
    Similarity.writeAnnIndex(idx, dir) // periodic rebuild / retried batch
    val back = Similarity.readAnnIndex(spark, dir)
    assert(back.planes === 4 && back.assigned.count() === 50)
    // two distinct uniquely-named version dirs exist (no in-place rewrite)
    val vDirs = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.matches("v\\d+-.*"))
    assert(vDirs.length === 2, s"expected 2 fresh version dirs, got ${vDirs.toSeq}")

    // pre-versioning flat layout (assigned/ + meta/ at the root, no
    // LATEST pointer) still reads
    val flat = java.nio.file.Files.createTempDirectory("graft-ann-flat").toString
    idx.assigned.write.parquet(s"$flat/assigned")
    Seq(4).toDF("planes").coalesce(1).write.json(s"$flat/meta")
    val legacy = Similarity.readAnnIndex(spark, flat)
    assert(legacy.planes === 4 && legacy.assigned.count() === 50)
  }

  /** Mean-DOMINATED embeddings — the hashing-trick family (shared
    * stopword-mass direction): a large common offset plus an O(1)
    * per-doc direction. Raw sign-LSH megabuckets this family (the
    * measured 65%-in-one-bucket pathology); every test below pins the
    * centered behavior. */
  private def shiftedVec(i: Long, dim: Int): Seq[Double] =
    (0 until dim).map(j => 5.0 + math.sin(i * 13.0 + j * 5.0))

  test("contrastivePairs: mean-shifted corpus — buckets spread, planted positives mined") {
    val dim = 16
    val base = (0 until 300).map(i => (i.toLong, shiftedVec(i, dim)))
    // planted positives: 5 anchors get a near-copy (tiny TRANSLATION —
    // centered signs are translation-stable, the recall contract)
    val planted = (0 until 5).map(i =>
      (1000L + i, base(i)._2.map(_ + 1e-6)))
    val emb = (base ++ planted).toDF("vec_id", "vec")
    // cos between distinct docs: offset dominates (~0.97); a near-copy
    // is ~1.0 — band edge at 0.9999 separates them
    val out = Similarity.contrastivePairs(emb, "vec_id", "vec",
        posThresh = 0.9999, nHard = 3, planes = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val pos = out.filter(_._3 == "positive").map(p => p._1 -> p._2).toMap
    (0 until 5).foreach { i =>
      assert(pos.get(i.toLong).contains(1000L + i) &&
        pos.get(1000L + i).contains(i.toLong),
        s"planted near-copy pair $i <-> ${1000 + i} not mined: $pos")
    }
    // occupancy: the centered signing must SPREAD this family. Compare
    // against raw signing on the same fixture via the index builder
    // (same expression path contrastivePairs buckets with).
    def maxShare(mean: Option[Seq[Double]]): Double = {
      val counts = Similarity.annIndex(emb, "vec_id", "vec", planes = 4,
          mean = mean).assigned
        .groupBy("bucket").count().collect().map(_.getLong(1))
      counts.max.toDouble / counts.sum
    }
    val centered = maxShare(None)
    val raw = maxShare(Some(Nil))
    assert(centered <= 0.35,
      f"centered max-bucket share $centered%.2f — megabucket not dispersed")
    assert(raw > centered,
      f"fixture lost its point: raw $raw%.2f should concentrate above centered $centered%.2f")
  }

  test("hashing-trick doc embeddings: centering disperses the raw-sign megabucket") {
    // the REAL family (not a synthetic stand-in): hashEmbedding over
    // the documents table — these vectors share the stopword-mass
    // direction, and raw sign-LSH concentrated 65% of sf0.1 docs in
    // ONE bucket (SCALE_r14). This pins both halves: raw signing
    // really does megabucket this family, and the centered index
    // disperses it — so the quadratic/scan-degrade class cannot
    // return silently.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val emb = TextAnalysis.hashEmbedding(docs, dims = 64)
    def maxShare(mean: Option[Seq[Double]]): Double = {
      val counts = Similarity.annIndex(emb, "doc_id", "vec", planes = 8,
          mean = mean).assigned
        .groupBy("bucket").count().collect().map(_.getLong(1))
      counts.max.toDouble / counts.sum
    }
    val raw = maxShare(Some(Nil))
    val centered = maxShare(None)
    assert(centered <= 0.25,
      f"centered max-bucket share $centered%.3f — the served ring stops pruning")
    assert(raw >= 2 * centered,
      f"raw $raw%.3f vs centered $centered%.3f — megabucket fixture assumption broken")
  }

  test("ANN sidecar: centering mean round-trips; probes center identically on both layouts") {
    val dim = 16
    val emb = (0 until 200).map(i => (i.toLong, shiftedVec(i, dim)))
      .toDF("id", "vec")
    val idx = Similarity.annIndex(emb, "id", "vec", planes = 6)
    assert(idx.mean.nonEmpty && math.abs(idx.mean.head - 5.0) < 1.5,
      s"fitted mean should sit near the planted offset: ${idx.mean}")
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-mean").toString
    Similarity.writeAnnIndex(idx, dir)
    val back = Similarity.readAnnIndex(spark, dir)
    assert(back.mean === idx.mean) // Jackson doubles round-trip exactly
    val probe = shiftedVec(42, dim)
    def hits(ix: Similarity.AnnIndex) =
      Similarity.annTopKIndexed(ix, probe, 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(hits(back) === hits(idx)) // identical ring, identical candidates
    // the probe's ring actually prunes: candidate fraction bounded
    val sigCounts = idx.assigned.groupBy("bucket").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ringCand = hits(idx) // sanity: top-k served
    assert(ringCand.nonEmpty)
    assert(sigCounts.values.max.toDouble / 200 <= 0.35,
      s"mean-shifted corpus megabucketed even centered: $sigCounts")
    // recall vs exact brute force on the mean-dominated family
    val exact = Similarity.topK(emb, "id", "vec", probe, 10)
      .collect().map(_.getLong(0)).toSet
    val recall = (exact intersect hits(idx).map(_._1).toSet).size / 10.0
    assert(recall >= 0.5, s"centered ANN recall $recall on shifted corpus")
  }

  test("annTopKIndexed recall vs exact brute-force top-k") {
    val dim = 8
    val emb = (0 until 200).map(i => (i.toLong, clusterVec(i % 24, i / 24, dim)))
      .toDF("id", "vec")
    val probe = clusterVec(3, 50, dim)
    val exact = Similarity.topK(emb, "id", "vec", probe, 10)
      .collect().map(_.getLong(0)).toSet
    val index = Similarity.annIndex(emb, "id", "vec", planes = 6)
    val ann = Similarity.annTopKIndexed(index, probe, 10)
      .collect().map(_.getLong(0)).toSet
    val recall = (exact intersect ann).size / 10.0
    assert(recall >= 0.6, s"ANN recall $recall; exact=$exact ann=$ann")
  }

  test("pqTopKReranked recall vs exact brute-force top-k") {
    val dim = 8
    val emb = (0 until 200).map(i => (i.toLong, clusterVec(i % 24, i / 24, dim)))
      .toDF("id", "vec")
    val probe = clusterVec(3, 50, dim)
    val exact = Similarity.topK(emb, "id", "vec", probe, 10)
      .collect().map(_.getLong(0)).toSet
    val model = Quantize.pqTrain(emb, "id", "vec", dim, m = 4, ks = 16, iters = 2)
    val codes = Quantize.pqEncode(model, emb, "id", "vec")
    // the packed code is ONE long — the compressed corpus representation
    assert(codes.schema("code").dataType ===
      org.apache.spark.sql.types.LongType)
    val pq = Quantize.pqTopKReranked(model, codes, emb, "id", "vec",
        probe, k = 10, rerankDepth = 40)
      .collect().map(_.getLong(0)).toSet
    val recall = (exact intersect pq).size / 10.0
    assert(recall >= 0.6, s"PQ recall $recall; exact=$exact pq=$pq")
  }

  test("ADC cosine approximates true cosine in the compressed domain") {
    val dim = 8
    val emb = (0 until 200).map(i => (i.toLong, clusterVec(i % 24, i / 24, dim)))
      .toDF("id", "vec")
    val probe = clusterVec(3, 50, dim)
    val model = Quantize.pqTrain(emb, "id", "vec", dim, m = 4, ks = 16, iters = 2)
    val approx = Quantize.pqTopK(model, Quantize.pqEncode(model, emb, "id", "vec"),
        probe, k = 200)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val exactCos = Similarity.topK(emb, "id", "vec", probe, 200)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val mae = exactCos.map { case (id, c) => math.abs(approx(id) - c) }.sum / 200
    assert(mae < 0.1, s"ADC mean abs error $mae vs exact cosine")
  }

  test("kmeansProfile: deterministic partition of planted clusters") {
    val dim = 8
    // 4 well-separated planted clusters, 50 members each
    val emb = (0 until 200).map(i => (i.toLong, clusterVec(i % 4, i / 4, dim)))
      .toDF("id", "vec")
    val prof = Quantize.kmeansProfile(emb, "id", "vec", dim, k = 4, iters = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(prof.map(_._2).sum === 200L, s"sizes must cover the corpus: ${prof.toSeq}")
    // members sit ~1e-6 from their planted base; hash seeding can merge
    // two bases into one cell (a k-means local optimum, observed), so
    // pin: every cell coherent, and most cells exactly on a base
    assert(prof.forall(_._3 > 0.95), s"compactness: ${prof.toSeq}")
    assert(prof.count(_._3 > 0.999) >= 3, s"tight cells: ${prof.toSeq}")
    // exact-decimal means → bit-identical re-run
    val again = Quantize.kmeansProfile(emb, "id", "vec", dim, k = 4, iters = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(prof.sortBy(_._1).toSeq === again.sortBy(_._1).toSeq)
  }

  test("adaptive multi-probe widens the ring until the top-k is fully served") {
    val dim = 8
    val emb = (0 until 200).map(i => (i.toLong, clusterVec(i % 24, i / 24, dim)))
      .toDF("id", "vec")
    val probe = clusterVec(3, 50, dim)
    // 10 planes over 200 vectors → ~0.2 vectors/bucket: the fixed 1-bit
    // ring starves, the adaptive ring must still return k results with
    // recall at least as good
    val index = Similarity.annIndex(emb, "id", "vec", planes = 10)
    val exact = Similarity.topK(emb, "id", "vec", probe, 10)
      .collect().map(_.getLong(0)).toSet
    val fixed = Similarity.annTopKIndexed(index, probe, 10)
      .collect().map(_.getLong(0)).toSet
    val adaptive = Similarity.annTopKAdaptive(index, 200L, probe, 10,
        minCandidates = 100)
      .collect().map(_.getLong(0)).toSet
    assert(adaptive.size === 10)
    val fixedRecall = (exact intersect fixed).size
    val adaptiveRecall = (exact intersect adaptive).size
    assert(adaptiveRecall >= fixedRecall)
    assert(adaptiveRecall >= 6, s"adaptive recall $adaptiveRecall/10")
  }

  test("redact masks planted emails, SSNs, and long digit runs") {
    val docs = Seq(
      (1L, "contact me at jane.doe+spam@example.co.uk for details"),
      (2L, "ssn 123-45-6789 and phone 14155551234 leaked"),
      (3L, "clean text with a short number 42")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.redact(docs).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getBoolean(2)))).toMap
    assert(out(1L)._1 === "contact me at [EMAIL] for details" && out(1L)._2)
    assert(out(2L)._1 === "ssn [SSN] and phone [NUMBER] leaked" && out(2L)._2)
    assert(out(3L)._1 === "clean text with a short number 42" && !out(3L)._2)
  }

  test("chunk produces overlapping token windows with exact boundaries") {
    val text = (1 to 10).map(i => s"t$i").mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val chunks = TextAnalysis.chunk(docs, winSize = 4, step = 3).collect()
      .map(r => (r.getInt(1), r.getInt(2), r.getString(3))).sortBy(_._1)
    // windows at token offsets 0,3,6,9: [t1..t4][t4..t7][t7..t10][t10]
    assert(chunks.toSeq === Seq(
      (0, 4, "t1 t2 t3 t4"), (1, 4, "t4 t5 t6 t7"),
      (2, 4, "t7 t8 t9 t10"), (3, 1, "t10")))
  }

  test("near-dup clusters are transitive: A~B~C chains collapse even when A!~C") {
    // B overlaps A on its left half and C on its right half; A and C
    // share less than the threshold — only transitivity links them
    val half1 = (0 until 20).map(i => s"x$i").mkString(" ")
    val half2 = (0 until 20).map(i => s"y$i").mkString(" ")
    val half3 = (0 until 20).map(i => s"z$i").mkString(" ")
    val docs = Seq(
      (1L, s"$half1 $half2"), (2L, s"$half2 $half3"),
      (10L, s"$half1 $half2"), // exact dup of 1
      (5L, "entirely unrelated tokens only appearing here once today")
    ).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccard(docs, 0.3)
      .select(col("a").as("src"), col("b").as("dst"))
    // 1~2 (jac 1/3), 1~10 (jac 1), 2~10 (jac 1/3); 5 pairs with nothing
    val clusters = GraphOps.ccDataFrame(pairs)(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(clusters === Map(1L -> 1L, 2L -> 1L, 10L -> 1L))
  }

  test("decontaminate flags exactly the train docs sharing an n-token shingle with eval") {
    val evalDocs = Seq((100L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val train = Seq(
      // contains ONE eval 8-gram: "a b c d e f g h"
      (1L, "x y a b c d e f g h z"),
      // shares tokens but no 8-token run
      (2L, "a b c d q e f g h r"),
      (3L, "totally different content with no shared token runs at all here")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.decontaminate(train, evalDocs, n = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq === Seq((1L, 1L)))
  }

  test("export shards: round-trip, manifest re-derivable from files, order-insensitive") {
    val docs = Seq((1L, "a b c"), (2L, "d d"), (3L, "e"), (4L, "f g h i"),
      (5L, "j k"), (6L, "l"), (7L, "m n o"), (8L, "p")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_export").toString
    TextAnalysis.writeTrainingShards(docs, dir, nShards = 4)

    // every doc lands exactly once, in the shard the manifest keys
    val back = spark.read.parquet(s"$dir/docs")
    assert(back.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ===
      docs.collect().map(r => (r.getLong(0), r.getString(1))).toSet)

    // a consumer's validation pass: recompute the manifest from the
    // written files and compare to the written manifest
    val man = spark.read.parquet(s"$dir/manifest").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val re = TextAnalysis.exportManifest(
      back.select("doc_id", "text"), nShards = 4).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(man === re)
    assert(man.values.map(_._1).sum === 8L)

    // physical partition dir == manifest shard key for every row
    val mismatch = back.filter(
      col("shard").cast("long") =!=
        pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long"), lit(4L))).count()
    assert(mismatch === 0L)

    // bit_xor signature is row-order-insensitive: reversed input,
    // identical manifest
    val rev = TextAnalysis.exportManifest(docs.orderBy(desc("doc_id")), nShards = 4)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rev === man)
  }

  test("incrementalExact: snapshot dedups against corpus without reprocessing it") {
    val corpus = Seq(
      (1L, "the existing corpus doc"),
      (2L, "another   KEPT doc"),         // normalization: ws+case
      (3L, null.asInstanceOf[String])     // null text: out of the sketch, no NPE
    ).toDF("doc_id", "text")
    val snapshot = Seq(
      (10L, "THE existing corpus DOC"),   // dup of corpus 1 after normalize → dropped
      (11L, "a fresh snapshot doc"),      // unique → kept
      (12L, "a fresh snapshot doc"),      // internal dup → collapsed, min id 11
      (13L, "another kept doc"),          // dup of corpus 2 after normalize → dropped
      (14L, null.asInstanceOf[String]),   // null hash never matches (NOT EXISTS
      (15L, null.asInstanceOf[String])    // semantics) → kept, one NULL group
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalExact(snapshot, corpus).collect()
      .map(r => r.getLong(0)).sorted.toSeq
    assert(got === Seq(11L, 14L))
    // parity with the declarative form on the non-null rows: union-exact
    // restricted to snapshot survivors whose hash is corpus-absent
    // (null rows excluded — under union-exact the null group's min id
    // sits in the corpus, which is exactly what incremental avoids)
    val nn = (df: org.apache.spark.sql.DataFrame) => df.filter(col("text").isNotNull)
    val unionKeep = Dedup.exact(nn(corpus).union(nn(snapshot))).collect()
      .map(r => r.getLong(0)).filter(_ >= 10L).toSet
    assert(Dedup.incrementalExact(nn(snapshot), nn(corpus)).collect()
      .map(r => r.getLong(0)).toSet === unionKeep)
  }

  test("decontaminateBloom: exact parity with decontaminate; sketch actually prunes") {
    // fixture reuses the decontaminate shapes plus extra clean docs so
    // the candidate prune has something to drop
    val evalDocs = Seq((100L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "x y a b c d e f g h z"),
      (2L, "a b c d q e f g h r"),
      (3L, "totally different content with no shared token runs at all here"),
      (4L, "c d e f g h i j trailing eval tail match here")
    ).toDF("doc_id", "text")
    val want = TextAnalysis.decontaminate(train, evalDocs, n = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val got = TextAnalysis.decontaminateBloom(train, evalDocs, n = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === want)
    assert(got === Map(1L -> 1L, 4L -> 1L))

    // no false negatives: every eval shingle passes its own sketch;
    // false positives bounded: 10k absent keys pass at ~fpp (1% here,
    // asserted with 5x margin)
    val evalSh = TextAnalysis.shingleHashes(evalDocs, 8).select("sh").distinct()
    val bloom = evalSh.stat.bloomFilter("sh", 1000L, 0.01)
    import graft.functions.BloomExpressions.bloomMightContain
    val selfPass = evalSh
      .filter(bloomMightContain(col("sh"), bloom)).count()
    assert(selfPass === evalSh.count())
    val absent = spark.range(10000)
      .select(md5(concat(lit("absent:"), col("id").cast("string"))).as("sh"))
    val fpPass = absent.filter(bloomMightContain(col("sh"), bloom)).count()
    assert(fpPass <= 500L, s"bloom fp rate implausibly high: $fpPass/10000")
  }

  test("repetition computes exact duplicate-token and top-bigram fractions") {
    val docs = Seq(
      (1L, "a a a a"),    // dup 1-1/4; bigrams "a a"×3 → 3/3
      (2L, "a b c d"),    // no dups; 3 distinct bigrams → 1/3
      (3L, "x")           // single token: no bigrams
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetition(docs).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1)
    assert(out.toSeq === Seq(
      (1L, 0.75, 1.0), (2L, 0.0, 0.333333), (3L, 0.0, 0.0)))
  }

  test("unigramLogProb matches hand-computed corpus frequencies") {
    // corpus tokens: a a b | b  → p(a) = p(b) = 2/4, every doc's mean
    // log-prob is ln(0.5)
    val docs = Seq((1L, "a a b"), (2L, "b")).toDF("doc_id", "text")
    val out = TextAnalysis.unigramLogProb(docs).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    assert(out.toSeq === Seq((1L, -0.693147), (2L, -0.693147)))
  }

  test("winnow matches an independent sliding-window implementation") {
    val k = 5; val w = 4
    val docs = Seq(
      (1L, "abcdefghijklmnopqrstuvwxyz"),
      (2L, "the same substring appears in both documents here"),
      (3L, "tiny")
    ).toDF("doc_id", "text")
    // independent formulation: k-grams exploded to rows, hashed by the
    // same primitive, then windows/min/distinct/sort computed DRIVER-SIDE
    val texts = docs.collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val grams = texts.toSeq.flatMap { case (id, t) =>
      if (t.length < k) Seq.empty
      else (0 to t.length - k).map(i => (id, i, t.substring(i, i + k)))
    }
    val hashes = grams.toDF("doc_id", "pos", "g")
      .select(col("doc_id"), col("pos"),
        expr("cast(conv(substr(md5(g), 1, 15), 16, 10) as bigint)").as("h"))
      .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getLong(2))).toMap
    val expected = texts.collect { case (id, t) if t.length >= k + w - 1 =>
      // graft's winnow window j covers gram positions j .. j+w-1
      val lastStart = t.length - k - (w - 1)
      val fps = (0 to lastStart).map { j =>
        (j until j + w).flatMap(p => hashes.get((id, p))).min
      }
      id -> fps.distinct.sorted
    }
    val actual = TextAnalysis.winnow(docs, k, w).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    // doc 3 is shorter than k: the expression hashes short tails too, so
    // compare only docs with >= k+w-1 chars (the guarantee's domain)
    assert(actual(1L) === expected(1L))
    assert(actual(2L) === expected(2L))
  }

  test("sketch aggregates stay within error bounds of exact answers") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val approx = graft.queries.RelationalQueries.queries("q_approx")(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("u"),
        expr("percentile(value, 0.5)").as("med"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    exact.foreach { case (et, (users, med)) =>
      val (au, amed) = approx(et)
      assert(math.abs(au - users).toDouble / users < 0.05,
        s"$et: approx users $au vs exact $users")
      assert(math.abs(amed - med) / math.max(math.abs(med), 1e-9) < 0.10,
        s"$et: approx median $amed vs exact $med")
    }
  }

  test("weightedSssp matches driver-side Dijkstra") {
    val edges = Seq(
      (1L, 2L, 1.0), (2L, 3L, 2.0), (1L, 3L, 5.0), (3L, 4L, 1.0),
      (2L, 4L, 7.0), (4L, 5L, 1.0), (6L, 5L, 1.0)) // 6 unreachable from 1
    val actual = GraphOps.weightedSssp(edges.toDF("src", "dst", "w"), source = 1L)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // Dijkstra on the driver
    val adj = edges.groupBy(_._1).view.mapValues(_.map(e => (e._2, e._3))).toMap
    val dist = collection.mutable.Map(1L -> 0.0)
    val pq = collection.mutable.PriorityQueue((0.0, 1L))(Ordering.by(-_._1))
    while (pq.nonEmpty) {
      val (d, u) = pq.dequeue()
      if (d <= dist.getOrElse(u, Double.PositiveInfinity))
        adj.getOrElse(u, Nil).foreach { case (v, w) =>
          if (d + w < dist.getOrElse(v, Double.PositiveInfinity)) {
            dist(v) = d + w; pq.enqueue((d + w, v))
          }
        }
    }
    assert(actual === dist.toMap) // node 6 absent from both
  }

  test("graph time-travel: edge set as-of a tx reflects later retraction") {
    // SURVEY §2D claim: every graph algorithm composes with as-of for
    // free because edges() derives from FactDb.snapshot(asOfTx).
    val T = graft.transact.Transactor
    val sess = T.emptySession(spark)
    val r1 = sess.transact(Seq(
      T.MapForm(Seq("name" -> "a"), tempId = Some("a")),
      T.MapForm(Seq("name" -> "b"), tempId = Some("b"))))
    val (a, b) = (r1.tempIds("a"), r1.tempIds("b"))
    val r2 = sess.transact(Seq(T.Add(a, "follows", sess.EntityRef(b))))
    sess.transact(Seq(T.Retract(a, "follows", sess.EntityRef(b))))
    def edgePairs(asOf: Long) =
      GraphOps.edges(sess.db, asOf).select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edgePairs(r2.txId) === Set((a, b))) // visible as-of the assert tx
    assert(edgePairs(Long.MaxValue) === Set.empty) // retraction cancels at latest
  }

  test("kCore peels a tendril chain iteratively; clique survives at its coreness") {
    // 6-clique (nodes 0-5, coreness 5) + chain 5-10-11-12 hanging off it
    val clique = for (a <- 0 until 6; b <- 0 until 6 if a != b) yield (a.toLong, b.toLong)
    val chain = Seq((5L, 10L), (10L, 11L), (11L, 12L))
    val edges = (clique ++ chain).toDF("src", "dst")
    // k=2: 12 peels (deg 1), then 11, then 10 — a 3-round cascade;
    // the clique keeps internal degree 5
    def core(k: Int) = leakFree(s"kCore(k=$k)")(GraphOps.kCore(edges, k))(longPairs)
    val core2 = core(2)
    assert(core2 === (0 until 6).map(_.toLong -> 5L).toMap)
    // k=6 exceeds max coreness: empty core
    assert(core(6).isEmpty)
    // k=1 peels nothing: every node at its full degree
    val core1 = core(1)
    assert(core1(5L) === 6L && core1(12L) === 1L && core1.size === 9)
  }

  test("collocations and temperatureMix ignore null-text docs (no size(-1) skew)") {
    val docs = Seq(
      (1L, "a b a b a b", "s1"), (2L, "a b a b a b", "s1"),
      (3L, null.asInstanceOf[String], "s1"), (4L, "c d", "s2")
    ).toDF("doc_id", "text", "source")
    val withNull = TextAnalysis.collocations(docs, minCount = 2, topK = 10).collect()
    val withoutNull = TextAnalysis.collocations(
      docs.filter(col("text").isNotNull), minCount = 2, topK = 10).collect()
    // a null-text doc must not perturb counts or PMI totals at all
    assert(withNull.map(_.toString).sorted.toSeq ===
      withoutNull.map(_.toString).sorted.toSeq)
    val mix = TextAnalysis.temperatureMix(docs, budgetTokens = 1000)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // the null doc is COUNTED as a doc but contributes zero tokens
    assert(mix("s1") === ((3L, 12L)) && mix("s2") === ((1L, 2L)))
  }

  test("kmeansAssign separates planted vocabulary clusters on normalized hash embeddings") {
    val fruit = (0 until 30).map(i =>
      (i.toLong, s"apple banana cherry fruit orchard harvest sweet ripe grove $i"))
    val cars = (100 until 130).map(i =>
      (i.toLong, s"engine wheel road highway diesel torque chassis brake gear $i"))
    val docs = (fruit ++ cars).toDF("doc_id", "text")
    val emb = graft.pipeline.TextAnalysis.hashEmbedding(docs, dims = 16)
    val norm = emb
      .withColumn("nrm", sqrt(aggregate(
        transform(col("vec"), x => x * x), lit(0.0), (a, b) => a + b)))
      .filter(col("nrm") > 0)
      .select(col("doc_id"), transform(col("vec"), x => x / col("nrm")).as("nvec"))
    val assigned = Quantize.kmeansAssign(norm, "doc_id", "nvec", dim = 16, k = 2, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val fruitTopics = fruit.map(f => assigned(f._1)).toSet
    val carTopics = cars.map(c => assigned(c._1)).toSet
    // each vocabulary group lands in ONE topic, and the two differ
    assert(fruitTopics.size === 1 && carTopics.size === 1 && fruitTopics != carTopics)
    // determinism: a second run assigns identically
    val again = Quantize.kmeansAssign(norm, "doc_id", "nvec", dim = 16, k = 2, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(again === assigned)
  }

  test("closureDelta maintains the exact transitive closure across edge increments") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // increments that exercise every stitch shape: extending a chain,
    // bridging two components, creating a cycle
    val e1 = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val e2 = Seq((3L, 10L)).toDF("src", "dst")            // bridge: 1..3 -> 10,11
    val e3 = Seq((11L, 1L), (20L, 21L)).toDF("src", "dst") // cycle + island
    val c1 = GraphOps.transitiveClosure(e1)(spark)
    assert(pairs(c1) === Set((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L)))
    assert(leakFree("transitiveClosure")(GraphOps.transitiveClosure(e1)(spark))(pairs) ===
      pairs(c1))
    val c2 = GraphOps.closureDelta(c1, e2)(spark)
    assert(pairs(c2) === pairs(GraphOps.transitiveClosure(e1.unionAll(e2))(spark)))
    val c3 = GraphOps.closureDelta(c2, e3)(spark)
    val full = GraphOps.transitiveClosure(e1.unionAll(e2).unionAll(e3))(spark)
    assert(pairs(c3) === pairs(full))
    // the cycle makes everything in it reach everything else (incl. self)
    assert(pairs(c3).contains((1L, 1L)) && pairs(c3).contains((11L, 3L)))
    // from an EMPTY closure, a delta is just a full closure build
    assert(pairs(GraphOps.closureDelta(c1.limit(0), e1)(spark)) === pairs(c1))
  }

  test("scc resolves planted cycles, nested condensation, and tendrils exactly") {
    // two 3-cycles bridged by a DAG edge, plus a tendril into the first:
    // SCCs {1,2,3} (label 1), {4,5,6} (label 4), {7} — the bridge 3->4
    // and tendril 7->1 must NOT merge components.
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L),  // cycle A
      (3L, 4L),                       // condensation edge A -> B
      (4L, 5L), (5L, 6L), (6L, 4L),  // cycle B
      (7L, 1L)                        // tendril (trim peels it)
    ).toDF("src", "dst")
    // BOTH serving paths must agree with the ground truth: the
    // post-trim driver Tarjan (default dispatch) and the distributed
    // coloring fixpoint (smallGraphEdges = 0 forces the 100× path).
    // Each call also pins that scc leaks no checkpoint.
    def run(df: org.apache.spark.sql.DataFrame, small: Long) =
      leakFree(s"scc (smallGraphEdges=$small)")(
        GraphOps.scc(df, smallGraphEdges = small)(spark))(longPairs)
    for (small <- Seq(1L << 16, 0L)) {
      assert(run(edges, small) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
        4L -> 4L, 5L -> 4L, 6L -> 4L, 7L -> 7L))
      // a pure DAG is all singletons (everything trims, no fixpoint runs)
      val dag = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
      assert(run(dag, small) === Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
      // a single global cycle through ALL nodes survives trim entirely
      // and resolves in one color/collect pass
      val ring = (0L until 8L).map(i => (i, (i + 1) % 8)).toDF("src", "dst")
      assert(run(ring, small) === (0L until 8L).map(_ -> 0L).toMap)
    }
  }

  test("bfs: minimal hop counts over a diamond with a back edge") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 1L), (4L, 5L))
      .toDF("src", "dst")
    for (mat <- Seq(true, false))
      assert(leakFree(s"bfs(materializeEdges=$mat)")(
          GraphOps.bfs(edges, Seq(1L), maxHops = 5, materializeEdges = mat))(
          _.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap) ===
        Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 2, 5L -> 3))
  }

  test("ccDataFrame matches GraphX on the graph_cc fixture") {
    val e = GraphOps.edges(graft.core.TestData.staticDb(spark, "/root/testdata/sf0.001"))
      .filter(org.apache.spark.sql.functions.col("label") === "n_regionkey_ref")
    val viaGraphX = GraphOps.connectedComponents(e).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaDf = leakFree("ccDataFrame")(GraphOps.ccDataFrame(e))(longPairs)
    assert(viaDf === viaGraphX)
  }

  test("ccDataFrame: planted 10^5-edge path forest resolves in O(log n) rounds") {
    import org.apache.spark.sql.functions._
    // 100 path components of 1000 nodes each: node i belongs to
    // component floor(i/1000)*1000 (its min id). Diameter 999 — a
    // label-propagation CC would need ~999 rounds; large-star /
    // small-star contracts it within the 50-round default (O(log n)).
    val edges = spark.range(100000)
      .filter((col("id") + 1) % 1000 =!= 0)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    val cc = GraphOps.ccDataFrame(edges)
    val wrong = cc.filter(col("component") =!= (col("node") - pmod(col("node"), lit(1000L)))).count()
    assert(wrong === 0)
    assert(cc.count() === 100000)
    assert(cc.select("component").distinct().count() === 100)
  }

  test("pageRank matches driver-side power iteration (GraphX static semantics)") {
    // asymmetric digraph: 1->2,1->3,2->3,3->1,4->3 (4 is dangling-in
    // only) + a PARALLEL 2->3 edge (counts twice in 2's outdeg and in
    // 3's incoming mass — GraphX Graph.fromEdges keeps multi-edges)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 3L), (3L, 1L), (4L, 3L))
    val edgeDf = edges.toDF("src", "dst")
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val outDeg = edges.groupBy(_._1).view.mapValues(_.size).toMap
    var rank = nodes.map(_ -> 1.0).toMap
    for (_ <- 0 until 10) {
      val in = edges.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => rank(s) / outDeg(s) }.sum).toMap
      rank = nodes.map(n => n -> (0.15 + 0.85 * in.getOrElse(n, 0.0))).toMap
    }
    val actual = GraphOps.pageRank(edgeDf, iters = 10).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    nodes.foreach { n =>
      assert(math.abs(actual(n) - rank(n)) < 1e-4,
        s"node $n: graphx=${actual(n)} power-iter=${rank(n)}")
    }
    // the served DataFrame-native implementation matches the same truth
    val viaDf = GraphOps.pageRankDataFrame(edgeDf, iters = 10).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    nodes.foreach { n =>
      assert(math.abs(viaDf(n) - rank(n)) < 1e-4,
        s"node $n: df=${viaDf(n)} power-iter=${rank(n)}")
    }
  }

  test("ngramJaccard: PPJoin filters prune templated candidates, pairs identical") {
    // Templated corpus at t=0.8: the template token a_tmpl (df=20, rarer
    // than the df=30 fillers) sits in the prefix of every small AND
    // large doc, so WITHOUT the length/positional filters all 190
    // small∪large pairs become candidates — the O(df²)-per-prefix-token
    // degradation. The filters prune exactly the 145 pairs that cannot
    // verify: small×large (100) on the length filter (5 < ceil(0.8·20)),
    // small×small (45) on the positional filter (overlap cap 4 <
    // required 5) — while every genuinely similar pair (large×large
    // J=19/21, ballast×ballast J=1, ballast×large J=0.9) survives.
    val f = (1 to 15).map(i => f"f$i%02d")
    val g = (1 to 3).map(i => s"g$i")
    val ballastText = (f ++ g).mkString(" ")                 // 18 toks, 20 copies
    val small = (0 until 10).map(i =>
      (i.toLong, (Seq(s"u$i", "a_tmpl") ++ f.take(3)).mkString(" ")))    // sz 5
    val large = (10 until 20).map(i =>
      (i.toLong, (Seq(s"u$i", "a_tmpl") ++ f ++ g).mkString(" ")))       // sz 20
    val ballast = (20 until 40).map(i => (i.toLong, ballastText))
    val docs = (small ++ large ++ ballast).toDF("doc_id", "text")
    val unfiltered = Dedup.ngramCandidates(docs, 0.8, ppFilters = false).count()
    val filtered = Dedup.ngramCandidates(docs, 0.8, ppFilters = true).count()
    assert(unfiltered === 580, "template + filler prefix joins should fan out")
    assert(filtered === 435, "filters should prune exactly the non-verifiable pairs")
    def pairs(pp: Boolean): Set[(Long, Long, Double)] =
      Dedup.ngramJaccard(docs, 0.8, ppFilters = pp).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val without = pairs(pp = false)
    val withPp = pairs(pp = true)
    assert(withPp === without, "filters must not change the verified pair set")
    assert(withPp.size === 435 && withPp.forall(_._3 >= 0.8))
  }

  test("packSequences: concat-and-chunk boundary semantics, shard-local packing") {
    import graft.pipeline.TextAnalysis
    // one shard (ids all ≡ 0 mod 8): token counts 3, 4, 2, 5 under
    // budget 6 concatenate to starts 0, 3, 7, 9 → packs 0, 0, 1, 1;
    // doc 8 STRADDLES the boundary (starts at 3, ends at 7) and
    // belongs to the pack its first token lands in — pack 0.
    val docs = Seq(
      (0L, "a b c"), (8L, "d e f g"), (16L, "h i"), (24L, "j k l m n"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.packSequences(docs, budget = 6, shards = 8)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(out(0L) === ((3L, 0L, 0L, 0L)))
    assert(out(8L) === ((4L, 0L, 0L, 3L)))   // straddles: stays in pack 0
    assert(out(16L) === ((2L, 0L, 1L, 1L)))  // starts at 7 → pack 1, offset 1
    assert(out(24L) === ((5L, 0L, 1L, 3L)))
    // a second shard packs independently from pack 0 with its own
    // running total (ids ≡ 1 mod 8)
    val sharded = TextAnalysis.packSequences(
      Seq((1L, "a b c d e f g"), (9L, "h i")).toDF("doc_id", "text"),
      budget = 6, shards = 8)
      .collect().map(r => (r.getLong(0), (r.getLong(2), r.getLong(3)))).toMap
    assert(sharded(1L) === ((1L, 0L)))
    assert(sharded(9L) === ((1L, 1L)))  // starts at 7 → its shard's pack 1
  }

  test("packSequences: adversarial ids — negative and duplicate doc_ids are deterministic") {
    import graft.pipeline.TextAnalysis
    // negative ids shard by pmod (NOT sign-preserving %): pmod(-8,8)=0,
    // pmod(-3,8)=5 — the r8 driver-red divergence class. Duplicate ids
    // order by the (doc_id, n_tokens) tie-breaker; the two (−8, n=2)
    // rows are fully identical so the output MULTISET is unique.
    val docs = Seq(
      (-8L, "a b c"),      // shard 0, n=3
      (-8L, "d e"),        // shard 0, n=2 (dup id, distinct n)
      (-8L, "f g"),        // shard 0, n=2 (dup id, same n — interchangeable)
      (0L, "h"),           // shard 0, n=1
      (-3L, "x y z w"))    // shard 5, n=4
      .toDF("doc_id", "text")
    val got = TextAnalysis.packSequences(docs, budget = 6, shards = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sorted.toSeq
    // shard 0 concat order by (id, n): (-8,2),(-8,2),(-8,3),(0,1) →
    // starts 0,2,4,7 → packs 0,0,0,1, offsets 0,2,4,1
    val want = Seq(
      (-8L, 2L, 0L, 0L, 0L),
      (-8L, 2L, 0L, 0L, 2L),
      (-8L, 3L, 0L, 0L, 4L),
      (0L, 1L, 0L, 1L, 1L),
      (-3L, 4L, 5L, 0L, 0L)).sorted
    assert(got === want)
  }

  test("domainMix: token quotas fill greedily in md5 order, boundary doc included") {
    import graft.pipeline.TextAnalysis
    // All-English fixture: quota semantics are testable without the
    // langid heuristic in the way ("the and of" markers force en).
    // md5-order within the language decides WHO fills the quota — pin
    // it by computing the same order here.
    val docs = Seq(
      (1L, "the and of to a in one two three"),     // 9 tokens
      (2L, "the and of to a in four five"),         // 8 tokens
      (3L, "the and of to a in six"),               // 7 tokens
      (4L, "the and of to a in"))                   // 6 tokens
      .toDF("doc_id", "text")
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val order = Seq(1L, 2L, 3L, 4L).sortBy(id => (md5hex(id.toString), id))
    val nTok = Map(1L -> 9L, 2L -> 8L, 3L -> 7L, 4L -> 6L)
    // quota 0.5 * 32 = 16 tokens: keep docs while tokens taken BEFORE
    // each is < 16 — the doc crossing the boundary stays
    val expect = {
      var cum = 0L
      order.filter { id => val keep = cum < 16; cum += nTok(id); keep }.toSet
    }
    val got = TextAnalysis.domainMix(docs, Map("en" -> 0.5), totalTokens = 32L)
      .collect().map(_.getLong(0)).toSet
    assert(got === expect)
    assert(got.size < 4, "quota must actually cut the corpus")
    // no weight for a language → quota 0 → nothing kept
    assert(TextAnalysis.domainMix(docs, Map("de" -> 1.0), 32L).collect().isEmpty)
  }

  test("pplFilter: per-language tail drop keeps the top fraction by logprob rank") {
    import graft.pipeline.TextAnalysis
    // 5 en docs built from a shared vocab so their unigram logprobs
    // differ deterministically: rarer words → lower mean logprob
    val docs = Seq(
      (1L, "the and of the and of"),                // most typical
      (2L, "the and of the and rare1"),
      (3L, "the and of the rare1 rare2"),
      (4L, "the and of rare1 rare2 rare3"),
      (5L, "the and rare1 rare2 rare3 rare4"))      // least typical
      .toDF("doc_id", "text")
    val kept = TextAnalysis.pplFilter(docs, keepFrac = 0.5)
      .collect().map(_.getLong(0)).toSet
    // ranks 0, .25, .5, .75, 1 → percent_rank <= 0.5 keeps the top 3
    assert(kept === Set(1L, 2L, 3L))
  }

  test("pageRankAuto dispatch: bounded probe, both branches agree") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 3L), (3L, 1L), (4L, 3L))
    val edgeDf = edges.toDF("src", "dst")
    // the probe is a limit(n+1) count, so the boundary is exact
    assert(GraphOps.isSmallGraph(edgeDf, 6))
    assert(!GraphOps.isSmallGraph(edgeDf, 5))
    // forcing either branch produces the same ranks (the dispatch is
    // invisible in results)
    def ranks(threshold: Long): Map[Long, Double] =
      GraphOps.pageRankAuto(edgeDf, iters = 10, smallGraphEdges = threshold)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaGraphX = ranks(threshold = 100)   // small-graph path
    val viaDf = ranks(threshold = 0)         // DF-native path
    assert(viaGraphX.keySet === viaDf.keySet)
    viaGraphX.foreach { case (n, r) =>
      assert(math.abs(viaDf(n) - r) < 1e-6, s"node $n: df=${viaDf(n)} graphx=$r")
    }
  }

  test("dedupStrict collapses the documented star-collapse miss to a fixpoint") {
    // The keepSurvivors RECALL NOTE's planted miss, in signature space
    // (16-bit blocks b0..b3 composed little-to-big into the 64-bit
    // simhash):
    //   Z=1: blk0 == A's; one bit flipped in each of blk1/2/3 → ham(Z,A)=3
    //   A=2: the far bucket representative
    //   B=3: blk0 = A's ^ 4 bits → ham(A,B)=4 (far); blk1-3 == A's
    //   C=4: B with 2 blk0 bits flipped → ham(B,C)=2 (near), ham(A,C)=6
    // Pass 1: bucket (blk0,a0)={Z,A} drops A; buckets (blk1-3,a*)=
    // {A,B,C} have far rep A → B,C produce NO pair (the documented
    // miss). Pass 2 re-buckets: B is now the blk1-3 rep, finds C.
    def sig(b0: Long, b1: Long, b2: Long, b3: Long): Long =
      b0 | (b1 << 16) | (b2 << 32) | (b3 << 48)
    val (a0, a1, a2, a3) = (0x1234L, 0x5678L, 0x9abcL, 0x0defL)
    val sigs = Seq(
      1L -> sig(a0, a1 ^ 1, a2 ^ 1, a3 ^ 1),  // Z
      2L -> sig(a0, a1, a2, a3),              // A
      3L -> sig(a0 ^ 0xf0L, a1, a2, a3),      // B
      4L -> sig(a0 ^ 0xf3L, a1, a2, a3)       // C = B ^ 2 bits
    ).toDF("doc_id", "simhash")
    val gen = (df: org.apache.spark.sql.DataFrame) =>
      Dedup.simhashPairsFromSigs(df, maxHamming = 3)
    // single pass: A dropped via Z, but the B~C near-dup is MISSED
    val onePass = Dedup.keepSurvivors(sigs, gen(sigs))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(onePass === Set(1L, 3L, 4L), s"expected the documented miss, got $onePass")
    // strict fixpoint: the re-bucketed second pass finds B~C
    val strict = Dedup.dedupStrict(sigs, gen)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(strict === Set(1L, 3L))
    // leak pin, over a generator that materialises nothing itself
    // (simhashPairsFromSigs checkpoints its own signature groups): the
    // least survivor pairs only with the next one, so each round drops
    // one doc and four docs take four rounds
    val docs = (1L to 4L).toDF("doc_id")
    val nearest = (df: org.apache.spark.sql.DataFrame) => {
      val least = df.agg(min(col("doc_id")).as("a"))
      least.join(df, col("doc_id") > col("a")).groupBy("a").agg(min(col("doc_id")).as("b"))
    }
    assert(leakFree("dedupStrict")(Dedup.dedupStrict(docs, nearest))(
      _.collect().map(_.getLong(0)).toSet) === Set(1L))
  }

  test("duplicatedSpans: hand-computed cross-doc span coverage, multiplicity counted") {
    // n=3 spans: "b c d" occurs in docs 0, 1 and TWICE in doc 3 →
    // cross-doc, every occurrence counts. "c d b"/"d b c" repeat only
    // WITHIN doc 3 (min=max) → not duplicated. Doc 2 shares nothing;
    // doc 4 is shorter than n and yields no row at all.
    val docs = Seq(
      (0L, "a b c d e"),
      (1L, "x b c d y"),
      (2L, "p q r"),
      (3L, "b c d b c d b c"),
      (4L, "a b")).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(docs, n = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got === Map(
      0L -> ((3L, 1L, 0.333333)),
      1L -> ((3L, 1L, 0.333333)),
      2L -> ((1L, 0L, 0.0)),
      3L -> ((6L, 2L, 0.333333))))
  }

  test("duplicatedSpans: adversarial ids — duplicates merge to one row, nulls drop") {
    // two rows share doc_id 7: "b c d" repeats ACROSS the rows but
    // min=max per id says not cross-doc; doc 8's copy makes it
    // cross-doc, so id 7 counts BOTH its occurrences. Output is ONE
    // row per id with n_spans summed (3+3) — the oracle's per-id
    // grouping — and the null-id row vanishes on both engines.
    val docs = Seq(
      (java.lang.Long.valueOf(7L), "a b c d e"),
      (java.lang.Long.valueOf(7L), "x b c d y"),
      (java.lang.Long.valueOf(8L), "b c d"),
      (null.asInstanceOf[java.lang.Long], "b c d")).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(docs, n = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got === Map(
      7L -> ((6L, 2L, 0.333333)),
      8L -> ((1L, 1L, 1.0))))
  }

  test("trimDuplicatedSpans: covered tokens cut, short and clean docs intact") {
    // n=3 over the duplicatedSpans fixture: "b c d" is cross-doc, so
    // doc 0 keeps "a e" (positions 1-3 cut), doc 1 keeps "x y", doc 3
    // loses BOTH its occurrences (positions 0-5) keeping the trailing
    // "b c"; doc 2 (no overlap) and doc 4 (shorter than n) pass
    // through; a null-id row is dropped like duplicatedSpans does.
    val docs = Seq(
      (java.lang.Long.valueOf(0L), "a b c d e"),
      (java.lang.Long.valueOf(1L), "x b c d y"),
      (java.lang.Long.valueOf(2L), "p q r"),
      (java.lang.Long.valueOf(3L), "b c d b c d b c"),
      (java.lang.Long.valueOf(4L), "a b"),
      (null.asInstanceOf[java.lang.Long], "b c d")).toDF("doc_id", "text")
    val got = Dedup.trimDuplicatedSpans(docs, n = 3).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got === Map(
      0L -> (("a e", 3L)),
      1L -> (("x y", 3L)),
      2L -> (("p q r", 0L)),
      3L -> (("b c", 6L)),
      4L -> (("a b", 0L))))
  }

  test("sourceOverlap: hand-computed pairwise shingle vocabulary overlap") {
    // n=2 vocabularies: s1 = {a b, b c, c d} (across two docs),
    // s2 = {b c, c d, d e}, s3 = {z z}. s1∩s2 = 2, J = 2/(3+3-2) = 0.5;
    // s3 overlaps nothing → no row (the report lists overlapping pairs).
    val docs = Seq(
      (0L, "a b c", "s1"), (1L, "c d", "s1"),
      (2L, "b c d e", "s2"),
      (3L, "z z", "s3")).toDF("doc_id", "text", "source")
    val got = TextAnalysis.sourceOverlap(docs, n = 2).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === Seq(("s1", "s2", 2L, 0.5)))
  }

  test("shingleContainment maxDf: boilerplate shingles excluded, organic output unchanged") {
    // TEMPLATED corpus: 6 docs share an identical 4-token boilerplate
    // header (the crawl-template shape whose Σdf² blows up the
    // uncapped self-join at scale); docs 10/11 additionally share a
    // REAL copied 4-token span. With maxDf=4 the header shingle
    // (df=6 > 4) is template furniture — only the real copy pair
    // survives; uncapped, every header pair scores too.
    val hdr = "terms of service apply"
    val tmpl = (0L until 6L).map(i =>
      (i, s"$hdr unique$i token$i filler$i end$i"))
    val copied = Seq(
      (10L, "alpha beta gamma delta pad10 x10 y10 z10"),
      (11L, "alpha beta gamma delta pad11 x11 y11 z11"))
    val docs = (tmpl ++ copied).toDF("doc_id", "text")
    val capped = Dedup.shingleContainment(docs, n = 4, threshold = 0.1, maxDf = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === Set((10L, 11L), (11L, 10L)),
      "only the genuinely copied pair survives the df bound")
    val uncapped = Dedup.shingleContainment(docs, n = 4, threshold = 0.1,
        maxDf = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.size === 6 * 5 + 2, "uncapped scores every template pair")

    // ORGANIC corpus (no shingle near the default cap): capped ==
    // uncapped row-for-row — the bound never binds on real sharing
    val organic = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def rows(maxDf: Int) =
      Dedup.shingleContainment(organic, n = 8, threshold = 0.5, maxDf = maxDf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getDouble(4))).toSet
    assert(rows(256) === rows(Int.MaxValue))
  }

  test("sourceOverlap maxDf: template shingle shared by every source drops out") {
    // one boilerplate bigram in all 5 sources (df=5 > maxDf=3) plus a
    // real 2-source overlap; capped keeps only the real pair
    val docs = ((0 until 5).map(i => (i.toLong, "common header", s"s$i")) ++
      Seq((10L, "real shared span", "s0"), (11L, "real shared span", "s1")))
      .toDF("doc_id", "text", "source")
    val capped = TextAnalysis.sourceOverlap(docs, n = 2, maxDf = 3)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(capped === Set(("s0", "s1")))
    val uncapped = TextAnalysis.sourceOverlap(docs, n = 2, maxDf = Int.MaxValue)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(uncapped.size === 5 * 4 / 2, "uncapped pairs every source")
  }

  test("splitAssign: deterministic bucket-ranged labels, ~train fraction holds") {
    val df = spark.range(0, 2000).toDF("doc_id")
    val a = TextAnalysis.splitAssign(df, "doc_id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    // label is exactly the bucket range — no row escapes the freeze
    a.values.foreach { case (b, s) =>
      assert(b >= 0 && b < 10000)
      val expect = if (b < 9000) "train" else if (b < 9500) "val" else "test"
      assert(s === expect)
    }
    // md5 spreads uniformly: the realized train share sits near 90%
    val trainFrac = a.values.count(_._2 == "train").toDouble / a.size
    assert(trainFrac > 0.85 && trainFrac < 0.95, s"train frac $trainFrac")
    // re-derivation is bit-identical — the audit property
    val b = TextAnalysis.splitAssign(df, "doc_id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(a === b)
  }

  test("bm25 matches a scalar re-implementation on a hand corpus") {
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "apple cherry"),
      (3L, "banana banana cherry cherry")).toDF("doc_id", "text")
    val out = TextAnalysis.bm25(docs, Seq("apple", "banana"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // independent scalar computation, same formula
    val (k1, b) = (1.2, 0.75)
    val dl = Map(1L -> 3.0, 2L -> 2.0, 3L -> 4.0)
    val avgdl = 3.0; val n = 3.0
    def idf(df: Long): Double = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
    def w(tf: Long, d: Long, df: Long): Double =
      idf(df) * (tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b * dl(d) / avgdl))
    def r6(x: Double): Double = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.keySet === Set(1L, 2L, 3L))
    assert(out(1L) === r6(w(2, 1L, 2) + w(1, 1L, 2)))   // apple tf=2, banana tf=1
    assert(out(2L) === r6(w(1, 2L, 2)))                 // apple only
    assert(out(3L) === r6(w(2, 3L, 2)))                 // banana tf=2
  }

  test("hybridRetrieve: RRF arithmetic, rank consistency, both-lists dominance") {
    // 40 docs: doc 0 is rich in query terms AND vector-similar (its
    // text IS the query); docs 1-19 keyword-only variants; 20-39 noise
    val docs = ((0L, "spark query join") +:
      (1 to 19).map(i => (i.toLong, s"spark query filler$i pad$i")) ++:
      (20 to 39).map(i => (i.toLong, s"noise${i}a noise${i}b noise${i}c"))).toDF("doc_id", "text")
    val out = TextAnalysis.hybridRetrieve(docs, Seq("spark", "query", "join"),
      kPerList = 10, kFinal = 10)
      .collect().map(r => (r.getLong(0), Option(r.get(1)).map(_.toString.toInt),
        Option(r.get(2)).map(_.toString.toInt), r.getDouble(3)))
    // fused score is exactly the RRF of the emitted ranks
    out.foreach { case (_, kw, vr, rrf) =>
      val expect = kw.map(k => 1.0 / (60 + k)).getOrElse(0.0) +
        vr.map(v => 1.0 / (60 + v)).getOrElse(0.0)
      assert(math.abs(rrf - expect) < 5e-7) // rrf is rounded to 6 decimals
    }
    // output is sorted by (rrf desc, doc_id)
    val sorted = out.sortBy(t => (-t._4, t._1)).toSeq
    assert(out.toSeq === sorted)
    // doc 0 (top of BOTH lists) wins outright
    assert(out.head._1 === 0L && out.head._2 === Some(1) && out.head._3 === Some(1))
  }

  test("snapshotDrift: shares normalize per snapshot; KL guards hold") {
    val docs = (0 until 200).map { i =>
      (i.toLong, ("w " * (5 + i % 7)).trim, "en", s"s${i % 4}", 0L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = TextAnalysis.snapshotDrift(docs).collect()
    assert(rows.map(_.getString(0)).toSet === Set("s0", "s1", "s2", "s3"))
    val sa = rows.map(_.getDouble(3)).sum
    val sb = rows.map(_.getDouble(4)).sum
    assert(math.abs(sa - 1.0) < 1e-4 && math.abs(sb - 1.0) < 1e-4)
    rows.foreach { r =>
      val (shA, shB, l1) = (r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(math.abs(l1 - math.abs(shA - shB)) < 1e-5)
      val kl = r.getDouble(6)
      if (shA > 0 && shB > 0)
        assert(math.abs(kl - shA * math.log(shA / shB)) < 1e-4)
    }
  }

  test("labelPropagation: planted cliques converge to their min label; bridge holds") {
    // B is LARGER than A: a clique whose internal majority outweighs
    // the single bridge endpoint keeps its community (a same-size
    // clique would be flooded by A's smaller labels through the
    // min-tie-break — that flood is the deterministic semantics, not a
    // bug, so the fixture pins the majority-resists case)
    val cliqueA = Seq(1L, 2L, 3L); val cliqueB = Seq(10L, 11L, 12L, 13L, 14L)
    def cliqueEdges(ns: Seq[Long]) =
      for (a <- ns; b <- ns if a != b) yield (a, b)
    val edges = (cliqueEdges(cliqueA) ++ cliqueEdges(cliqueB) ++
      Seq((3L, 10L), (10L, 3L))).toDF("src", "dst")
    val out = leakFree("labelPropagation")(GraphOps.labelPropagation(edges, rounds = 4))(longPairs)
    assert(cliqueA.forall(out(_) === 1L), s"clique A: $out")
    assert(cliqueB.forall(out(_) === 10L), s"clique B: $out")
  }

  test("labelPropagation: a 2-clique converges to one community (no label swap)") {
    // without the self-vote, synchronous LPA swaps the two labels every
    // round, so any even round budget reports two singletons — a real
    // 2-member community lost
    val edges = Seq((7L, 8L), (8L, 7L)).toDF("src", "dst")
    for (rounds <- Seq(2, 3, 4)) {
      val out = GraphOps.labelPropagation(edges, rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out === Map(7L -> 7L, 8L -> 7L), s"rounds=$rounds: $out")
    }
  }

  test("q_merge_cdc matches a scalar changelog replay at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val got = graft.SparkEntry.queries("q_merge_cdc")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((Option(r.get(1)).map(_.toString.toDouble), r.getString(2)))).toMap
    // independent replay: base map + last-event-per-user fold
    val base = graft.core.TestData.read(spark, dir, "customer")
      .filter(col("c_custkey") >= 50)
      .select("c_custkey", "c_acctbal").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val last = graft.core.TestData.events(spark, dir)
      .select("user_id", "event_type", "value", "ts_ns", "event_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3), r.getLong(4)))
      .groupBy(_._1).view.mapValues(_.maxBy(t => (t._4 / 1000, t._5))).toMap
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expect = (base.keySet ++ last.keySet).flatMap { u =>
      (base.get(u), last.get(u)) match {
        case (Some(b), None) => Some(u -> ((Some(r6(b)), "kept")))
        case (Some(_), Some(e)) if e._2 == "error" => None
        case (Some(_), Some(e)) => Some(u -> ((Some(r6(e._3)), "updated")))
        case (None, Some(e)) if e._2 != "error" => Some(u -> ((Some(r6(e._3)), "inserted")))
        case _ => None
      }
    }.toMap
    assert(got === expect)
  }

  test("mmrRerank: near-duplicate top hits stop crowding the result page") {
    // relevance order alone would return the three near-identical
    // copies of the best hit first; MMR must interleave the distinct
    // runner-up families instead
    def v(axis: Int, eps: Double): Seq[Double] = {
      val a = Array.fill(4)(0.0); a(axis) = 1.0; a((axis + 1) % 4) = eps; a.toSeq
    }
    val cands = Seq(
      (1L, v(0, 0.00), 0.99), (2L, v(0, 0.01), 0.98), (3L, v(0, 0.02), 0.97),
      (10L, v(1, 0.00), 0.90), (20L, v(2, 0.00), 0.85)).toDF("id", "vec", "rel")
    val order = graft.pipeline.Similarity
      .mmrRerank(cands, "id", "vec", "rel", kFinal = 3, lambda = 0.5)
      .orderBy(col("mmr_order")).collect().map(_.getLong(0)).toSeq
    assert(order.head === 1L) // best relevance first
    // picks 2 and 3 must come from the OTHER families, not the dup pile
    assert(order.tail.toSet === Set(10L, 20L), s"order: $order")
  }

  test("kCenterSelect: planted clusters each get a center before any is doubled") {
    // three tight clusters on separated axes + slight within-cluster
    // jitter; k=3 must pick one exemplar from EACH cluster (greedy
    // farthest-point cannot double a cluster while another is uncovered)
    def v(axis: Int, eps: Double): Seq[Double] = {
      val a = Array.fill(6)(0.0); a(axis) = 10.0; a((axis + 1) % 6) = eps; a.toSeq
    }
    val emb = Seq(
      (1L, v(0, 0.0)), (2L, v(0, 0.1)), (3L, v(0, 0.2)),
      (10L, v(2, 0.0)), (11L, v(2, 0.1)),
      (20L, v(4, 0.0)), (21L, v(4, 0.1))).toDF("vec_id", "vec")
    val picks = Similarity.kCenterSelect(emb, "vec_id", "vec", k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    assert(picks.map(_._1).head === 1L) // deterministic min-id seed
    val clusters = picks.map(_._1 / 10).toSet
    assert(clusters === Set(0L, 1L, 2L), s"picks: ${picks.mkString(",")}")
    // coverage radius is decreasing in pick order (greedy invariant)
    val ds = picks.sortBy(_._2).map(_._3).drop(1)
    assert(ds === ds.sorted.reverse, s"radii not monotone: $ds")
  }

  test("temporalReach: increasing-time paths only; lazy edges == materialized") {
    // 1 -(t=10)-> 2 -(t=20)-> 3 is reachable; 1 -(t=10)-> 4 -(t=5)-> 5
    // is NOT (time decreases); 2 -(t=15)-> 6 gives 6 via min arrival 15
    val edges = Seq((1L, 2L, 10L), (2L, 3L, 20L), (1L, 4L, 10L),
      (4L, 5L, 5L), (2L, 6L, 15L)).toDF("src", "dst", "t")
    def run(mat: Boolean) =
      GraphOps.temporalReach(edges, Seq(1L), maxHops = 3, materializeEdges = mat)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = Map(1L -> Long.MinValue, 2L -> 10L, 3L -> 20L,
      4L -> 10L, 6L -> 15L) // 5 unreachable: its edge is earlier than arrival at 4
    assert(run(mat = true) === expect)
    assert(run(mat = false) === expect)
  }

  test("deflateRatio: repetitive text compresses far below prose; scalar parity") {
    import graft.functions.DeflateRatio
    val repetitive = "spam " * 400
    val prose = (0 until 400).map(i => s"w${i * 7919 % 9973}x${i}").mkString(" ")
    val docs = Seq((1L, repetitive), (2L, prose)).toDF("doc_id", "text")
    val out = docs.select(col("doc_id"),
        DeflateRatio.deflateRatio(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // the expression (codegen path) equals the scalar helper (eval path)
    assert(out(1L) === DeflateRatio.ratio(
      org.apache.spark.unsafe.types.UTF8String.fromString(repetitive)))
    assert(out(2L) === DeflateRatio.ratio(
      org.apache.spark.unsafe.types.UTF8String.fromString(prose)))
    // and the signal separates: templated junk far below varied text
    assert(out(1L) < 0.1, s"repetitive ratio ${out(1L)}")
    assert(out(2L) > 3 * out(1L), s"prose ${out(2L)} vs junk ${out(1L)}")
  }

  test("bitextMine: planted translation stands out by margin; bucketed path agrees on it") {
    // axis-aligned embedding families: en doc 1 and de doc 101 are an
    // exact "translation" (identical vectors); the remaining docs of
    // each language point elsewhere, so the pair's cosine (1.0) towers
    // over both local neighborhoods → large margin. en doc 2's best
    // neighbor is only generically close (shared background mass) →
    // margin ~1, not mined. Zero-vector doc 999 must vanish.
    def v(hot: Int, w: Double = 1.0): Seq[Double] = {
      val a = Array.fill(8)(0.1); a(hot) += w; a.toSeq
    }
    val emb = Seq(
      (1L, v(0), "en"), (101L, v(0), "de"),          // the planted pair
      (2L, v(1), "en"),                              // no aligned partner
      (102L, v(2), "de"), (103L, v(3), "fr"), (104L, v(4), "de"),
      (105L, v(5), "fr"), (106L, v(6), "de"),
      (999L, Seq.fill(8)(0.0), "de")                 // zero norm → excluded
    ).toDF("doc_id", "vec", "lang")
    val out = Similarity.bitextMine(emb, "doc_id", "vec", "lang", "en", k = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(3), r.getDouble(4), r.getBoolean(5))).toMap
    assert(out.keySet === Set(1L, 2L))
    val (tgt, cos, margin, mined) = out(1L)
    assert(tgt === 101L && cos === 1.0 && mined, s"planted pair: ${out(1L)}")
    assert(margin > 1.2, s"planted margin $margin")
    assert(!out(2L)._4, s"unaligned doc mined: ${out(2L)}")
    // the zero vector never appears as a target
    assert(!out.values.exists(_._1 == 999L))
    // scale path: identical vectors share every sign bucket, so the
    // bucketed candidates must rediscover the planted pair and mine it
    val bucketed = Similarity.bitextMine(emb, "doc_id", "vec", "lang", "en",
        k = 3, planes = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(5))).toMap
    assert(bucketed(1L) === (101L, true))
  }

  test("train_bitext_lsh: recall + bounded margin inflation vs the exact path") {
    // the correctness pin for the benched scale path. The contract is
    // DIRECTIONAL, not identity: restricted candidate neighborhoods
    // deflate avgK, which can only INFLATE margins — so every
    // exact-mined pair whose target co-buckets is also lsh-mined
    // (recall), and the approximation's one-sided error shows up as a
    // few extra borderline pairs (precision, bounded here; tunable via
    // marginThresh). Cross-SF numbers: 0 missed / ≤2 extra at
    // sf0.001+sf0.01, 1 missed / 7 extra of 100 at sf0.1
    // (BitextScaleProbe parity mode re-measures all three).
    def mined(key: String): Set[(Long, Long)] =
      graft.SparkEntry.queries(key)(spark, "/root/testdata/sf0.001")
        .filter(col("mined"))
        .select(col("src_id"), col("tgt_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = mined("train_bitext")
    val lsh = mined("train_bitext_lsh")
    assert(exact.nonEmpty, "fixture produced no mined pairs — vacuous parity")
    assert((exact -- lsh).isEmpty,
      s"scale path DROPPED exact-mined pairs: ${exact -- lsh}")
    assert(lsh.size <= math.ceil(exact.size * 1.3),
      s"margin inflation out of bound: ${lsh.size} vs ${exact.size} exact")
  }

  test("editDedup: typo'd copies pair up; blocking + block cap behave as documented") {
    val base = ("alpha beta gamma delta epsilon zeta eta theta " * 4).trim
    val typo = base.updated(40, 'X').updated(90, 'Q')   // 2 edits past the prefix
    val far = base.take(60) + (" unrelated suffix content entirely different " * 3)
    val docs = Seq(
      (1L, base), (2L, typo),                 // near-dup pair, same block
      (3L, far),                              // same prefix, length band differs OR sim < t
      (10L, "zzz " + base)                    // edit INSIDE the prefix → different block (documented recall trade)
    ) ++ (100L until 400L).map(i => (i, "boilerplate header shared " + ("pad " * 20) + i))
    val df = docs.toDF("doc_id", "text")
    val out = Dedup.editDedup(df, threshold = 0.8, maxBlock = 256)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    // the typo'd copy is found, with the exact similarity value
    assert(out.keySet === Set((1L, 2L)))
    val expectSim = BigDecimal(1.0 - 2.0 / math.min(base.length, 256))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out((1L, 2L)) === expectSim)
    // 300 docs sharing a 16-char boilerplate prefix + band exceed the
    // 256-block cap → dropped before the self-join, zero pairs from
    // that block (the Σ|block|² guard); and the prefix-edited copy
    // (10) lands in another block — blocking recall, not a bug
  }

  test("charEntropy: histogram entropy exact; junk separates; code points not UTF-16 units") {
    import graft.functions.CharEntropy
    import org.apache.spark.unsafe.types.UTF8String
    val junk = "a" * 500                       // single symbol → 0 nats
    val varied = "the quick brown fox jumps over the lazy dog"
    // astral-plane chars are 2 UTF-16 units but ONE character to a
    // string-splitting oracle — 𝕒𝕓 uniform over 2 symbols = ln 2
    val astral = "𝕒𝕓"
    val docs = Seq((1L, junk), (2L, varied), (3L, astral), (4L, ""))
      .toDF("doc_id", "text")
    val out = docs.select(col("doc_id"),
        CharEntropy.charEntropy(col("text")).as("e"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // the expression (codegen path) equals the scalar helper (eval path)
    for ((id, t) <- Seq(1L -> junk, 2L -> varied, 3L -> astral, 4L -> ""))
      assert(out(id) === CharEntropy.entropy(UTF8String.fromString(t)))
    assert(out(1L) === 0.0)
    assert(out(4L) === 0.0)
    assert(math.abs(out(3L) - math.log(2.0)) < 1e-12, s"astral ${out(3L)}")
    // hand-computed check: ln(n) - Σ k·ln(k) / n over the histogram
    val counts = varied.groupBy(identity).map(_._2.length)
    val expect = math.log(varied.length.toDouble) -
      counts.map(k => k * math.log(k.toDouble)).sum / varied.length
    assert(math.abs(out(2L) - expect) < 1e-12)
    assert(out(2L) > 2.0, s"varied entropy ${out(2L)}")
  }

  test("heavyHitters: MG retention guarantee on a skewed stream; exact output") {
    // two heavy tokens (30% and 20%) + a 1000-token distinct tail,
    // shuffled across many partitions — the sketch (k=8) must retain
    // both heavies (true freq > N/9) through arbitrary merge order,
    // and the two-pass output must be EXACTLY the > N/9 set
    val rows = (Seq.fill(600)("alpha") ++ Seq.fill(400)("beta") ++
      (0 until 1000).map(i => s"tail$i"))
    val docs = scala.util.Random.shuffle(rows).zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text").repartition(16)
    val out = TextAnalysis.heavyHitters(docs, k = 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // N = 2000; threshold N/9 ≈ 222 → alpha(600) and beta(400) only
    assert(out === Map("alpha" -> 600L, "beta" -> 400L))
  }

  test("semanticDedup: planted near-identical embeddings group; distinct survive") {
    // two well-separated families (axis 0 vs axis 3); ids 1/2/3 are
    // near-identical within family A (two exact + one ~0.9999 cosine
    // perturbation), 10/11 identical in family B, 20/21 distinct
    // singletons (cosine to anything < 0.99)
    def v(axis: Int, eps: Double, epsAxis: Int): Seq[Double] = {
      val a = Array.fill(8)(0.0); a(axis) = 1.0; a(epsAxis) += eps; a.toSeq
    }
    val emb = Seq(
      (1L, v(0, 0.0, 1)), (2L, v(0, 0.0, 1)), (3L, v(0, 0.01, 1)),
      (10L, v(3, 0.0, 4)), (11L, v(3, 0.0, 4)),
      (20L, v(5, 0.0, 6)), (21L, v(6, 0.0, 7))).toDF("vec_id", "vec")
    val out = Dedup.semanticDedup(emb, "vec_id", "vec", dim = 8, k = 4, minCos = 0.99)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out(1L) === ((1L, true)))
    assert(out(2L) === ((1L, false)))
    assert(out(3L) === ((1L, false))) // cos(e0, e0+0.01*e1) ≈ 0.99995 >= 0.99
    assert(out(10L) === ((10L, true)) && out(11L) === ((10L, false)))
    assert(out(20L)._2 && out(21L)._2) // distinct singletons keep themselves
    assert(out(20L)._1 === 20L && out(21L)._1 === 21L)
  }

  test("q_funnel: stage ordering is strict — pre-signup clicks don't convert") {
    val dir = "/root/testdata/sf0.001"
    val got = graft.SparkEntry.queries("q_funnel")(spark, dir)
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)),
        Option(r.get(3)), r.getInt(4)))
    // scalar replay over the raw events
    val ev = graft.core.TestData.events(spark, dir)
      .select("user_id", "event_type", "ts_ns").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2) / 1000))
      .groupBy(_._1)
    got.foreach { case (u, s, c, p, stage) =>
      val evs = ev(u)
      val sMin = evs.filter(_._2 == "signup").map(_._3).min
      assert(s.contains(sMin))
      val cMin = evs.filter(e => e._2 == "click" && e._3 > sMin).map(_._3).minOption
      assert(c.map(_.toString.toLong) === cMin)
      val pMin = cMin.flatMap(cm =>
        evs.filter(e => e._2 == "purchase" && e._3 > cm).map(_._3).minOption)
      assert(p.map(_.toString.toLong) === pMin)
      assert(stage === 1 + cMin.size + pMin.size)
    }
    // every user with a signup appears
    assert(got.map(_._1).toSet === ev.filter(_._2.exists(_._2 == "signup")).keySet)
  }

  test("pageRankDataFrame matches GraphX on the graph_pagerank fixture") {
    // the bench/oracle edge set: nation ref-graph with parallel edges
    // (multiple labels between the same pair count separately in the
    // 1/outdeg weighting — the semantics the parity must preserve)
    val e = GraphOps.edges(graft.core.TestData.staticDb(spark, "/root/testdata/sf0.001"))
      .filter(org.apache.spark.sql.functions.col("label")
        .isin("n_regionkey_ref", "s_nationkey_ref", "c_nationkey_ref"))
    val viaGraphX = GraphOps.pageRank(e, iters = 10).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaDf = GraphOps.pageRankDataFrame(e, iters = 10).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaDf.keySet === viaGraphX.keySet)
    viaGraphX.foreach { case (n, r) =>
      assert(math.abs(viaDf(n) - r) < 1e-6, s"node $n: df=${viaDf(n)} graphx=$r")
    }
  }

  test("gopherRules: each rule trips on exactly its planted violator") {
    val good = (Seq("the", "be", "of") ++ Seq.fill(37)("word")).mkString(" ")
    val docs = Seq(
      1L -> good,                                   // passes all rules
      2L -> Seq.fill(5)("the be word").mkString(" "),   // 15 words: r_wordcount
      3L -> (Seq("the", "be") ++ Seq.fill(38)("ab")).mkString(" "), // mean len 2.1: r_wordlen
      4L -> (Seq("the", "be") ++ Seq.fill(18)("word") ++
        Seq.fill(20)("...")).mkString(" "),             // symbols: r_symbol (+r_alpha)
      5L -> (Seq("the", "be") ++ Seq.fill(18)("word") ++
        Seq.fill(20)("123")).mkString(" "),             // digits: r_alpha only
      6L -> Seq.fill(40)("word").mkString(" ")          // no stopword types: r_stop
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("r_wordcount"), r.getAs[Boolean]("r_wordlen"),
         r.getAs[Boolean]("r_symbol"), r.getAs[Boolean]("r_alpha"),
         r.getAs[Boolean]("r_stop"), r.getAs[Boolean]("pass"))).toMap
    assert(out(1L) === ((true, true, true, true, true, true)))
    assert(out(2L)._1 === false && out(2L)._6 === false)
    assert(out(3L)._2 === false && out(3L)._1 === true)
    assert(out(4L)._3 === false)
    assert(out(5L)._3 === true && out(5L)._4 === false)
    assert(out(6L)._5 === false && out(6L)._4 === true)
    // stop_hits counts TYPES present, not token frequency
    val hits = TextAnalysis.gopherRules(docs).filter(col("doc_id") === 2L)
      .head().getAs[Int]("stop_hits")
    assert(hits === 2) // 'the' and 'be' each appear 5x but count once
  }

  test("zipfFit: an exact power law recovers its slope; r2 ~ 1") {
    // plant freq(rank) = round(1e6 * rank^-0.8) for ranks 1..200 using
    // distinct single-token docs — the fit must recover -0.8 on the
    // quantized-log normal equations (quantization error ~1e-4)
    val rows = (1 to 200).flatMap { r =>
      val freq = math.round(1e6 * math.pow(r.toDouble, -0.8)).toInt
      Seq.fill(freq)(s"tok${"%04d".format(r)}")
    }.zipWithIndex.map { case (w, i) => (i.toLong, w) }
    val docs = rows.toDF("doc_id", "text").repartition(8)
    val out = TextAnalysis.zipfFit(docs, topRanks = 200).head()
    assert(out.getAs[Long]("n_terms") === 200L)
    val slope = out.getAs[Double]("zipf_slope")
    val r2 = out.getAs[Double]("r2")
    assert(math.abs(slope - (-0.8)) < 1e-3, s"slope $slope")
    assert(r2 > 0.999999, s"r2 $r2")
  }

  test("trigramStupidBackoff: exact trigram beats backoff beats unseen floor") {
    // train docs (src0) establish counts; scored docs exercise each arm:
    //  - d10 repeats a train trigram  -> c3 path, S = c(uvw)/c(uv)
    //  - d11 has an unseen trigram whose (v,w) bigram IS in train
    //     ("x b c": (b,c) seen)       -> 0.4 bigram backoff
    //  - d12 unseen trigram + unseen bigram, last word in vocab
    //     ("y x a": only 'a' known)   -> 0.4^2 unigram backoff
    //  - d13 wholly unseen words      -> 0.4^3/N floor
    val docs = Seq(
      (1L, "a b c a b c", "src0"),
      (10L, "a b c", "src9"),
      (11L, "x b c", "src9"),
      (12L, "y x a", "src9"),
      (13L, "q r s", "src9")
    ).toDF("doc_id", "text", "source")
    val out = TextAnalysis.trigramStupidBackoff(docs)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Double]("mean_sb_logscore")).toMap
    // train tokens: a b c a b c -> N=6; trigrams: abc(2) bca(1) cab(1);
    // bigrams: ab(2) bc(2) ca(1); unigrams: a2 b2 c2
    val eps = 1e-6
    assert(math.abs(out(10L) - math.log(2.0 / 2.0)) < eps)        // c3/cuv = 1
    assert(math.abs(out(11L) - math.log(0.4 * 2.0 / 2.0)) < eps)  // 0.4*c(bc)/c(b)
    assert(math.abs(out(12L) - math.log(0.16 * 2.0 / 6.0)) < eps) // 0.16*c(a)/N
    assert(math.abs(out(13L) - math.log(0.064 / 6.0)) < eps)      // floor
    // ordering: direct evidence > bigram backoff > unigram > floor
    assert(out(10L) > out(11L) && out(11L) > out(12L) && out(12L) > out(13L))
  }

  test("softDedup: weights are 1/cluster and total mass is one doc per distinct text") {
    val docs = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "ALPHA   beta gamma"),          // normalizes into cluster 1
      (4L, "delta epsilon")
    ).toDF("doc_id", "text")
    val out = Dedup.softDedup(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cluster_size"), r.getAs[Double]("weight"),
         r.getAs[Double]("effective_tokens"))).toMap
    assert(out(1L) === ((3L, 0.333333, 1.0)))
    assert(out(2L) === ((3L, 0.333333, 1.0)))
    assert(out(3L) === ((3L, 0.333333, 1.0)))
    assert(out(4L) === ((1L, 1.0, 2.0)))
    // expected (weighted) doc mass == number of DISTINCT texts
    val mass = out.values.map(_._2).sum
    assert(math.abs(mass - 2.0) < 2e-6) // 3x 0.333333 + 1.0, rounding
  }

  test("dupStats: histogram counts clusters, docs and removables per multiplicity") {
    val docs = Seq(
      (1L, "aa bb"), (2L, "aa bb"), (3L, "aa  bb"),  // cluster of 3
      (4L, "cc dd"), (5L, "cc dd"),                  // cluster of 2
      (6L, "ee ff")                                  // singleton
    ).toDF("doc_id", "text")
    val out = Dedup.dupStats(docs).collect()
      .map(r => r.getAs[Long]("cluster_size") ->
        (r.getAs[Long]("n_clusters"), r.getAs[Long]("n_docs"),
         r.getAs[Long]("n_removable"))).toMap
    assert(out === Map(3L -> ((1L, 3L, 2L)), 2L -> ((1L, 2L, 1L)),
      1L -> ((1L, 1L, 0L))))
  }

  test("noveltyScore: originator scores 1, verbatim copy 0, half-overlap in between") {
    // 8-token shingles; doc 1 originates, doc 2 copies it verbatim,
    // doc 3 shares exactly half its shingles with doc 1
    val orig = (1 to 9).map(i => s"w$i").mkString(" ")   // shingles w1-w8, w2-w9
    val half = (2 to 10).map(i => s"w$i").mkString(" ")  // w2-w9 (seen), w3-w10 (new)
    val docs = Seq((1L, orig), (2L, orig), (3L, half),
      (4L, "too short")).toDF("doc_id", "text")
    val out = TextAnalysis.noveltyScore(docs, n = 8).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_shingles"), r.getAs[Double]("novelty"))).toMap
    assert(out(1L) === ((2L, 1.0)))      // both shingles first here
    assert(out(2L) === ((2L, 0.0)))      // verbatim copy: nothing novel
    // doc 3: shingle w2-w9 first seen in doc 1, w3-w10 novel
    assert(out(3L) === ((2L, 0.5)))
    assert(!out.contains(4L))            // < n tokens: no evidence
  }

  test("langIdConfidence: margins separate pure, mixed, empty-evidence and CJK docs") {
    val docs = Seq(
      (1L, "the and of to a in word"),        // pure en: runner-up 0 -> margin 1
      (2L, "the and el los word"),            // en 2 vs es 2 tie -> en wins, margin 0
      (3L, "xyzzy quux plugh"),               // no markers: und, margin 0
      (4L, "\u4e16\u754c the and"),         // CJK override: zh, margin 1
      (5L, "the and of el word")              // en 3 vs es 1 -> margin 2/3
    ).toDF("doc_id", "text")
    val out = TextAnalysis.langIdConfidence(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("pred_lang"), r.getAs[Double]("margin"),
         r.getAs[Boolean]("confident"))).toMap
    assert(out(1L) === (("en", 1.0, true)))
    assert(out(2L) === (("en", 0.0, false)))   // tie: label defined, not confident
    assert(out(3L) === (("und", 0.0, false)))
    assert(out(4L) === (("zh", 1.0, true)))
    assert(out(5L)._1 === "en" && math.abs(out(5L)._2 - 0.666667) < 1e-6)
  }

  test("ngramStats: datasheet counts distinct/singleton/df-tail exactly") {
    val a = (1 to 9).map(i => s"w$i").mkString(" ")   // shingles s1, s2
    val b = (2 to 10).map(i => s"w$i").mkString(" ")  // s2 (shared), s3
    val docs = Seq((1L, a), (2L, a), (3L, b)).toDF("doc_id", "text")
    // df: s1 -> 2 (docs 1,2), s2 -> 3 (all), s3 -> 1 (doc 3)
    val r = TextAnalysis.ngramStats(docs, n = 8).head()
    assert(r.getAs[Long]("n_distinct") === 3L)
    assert(r.getAs[Long]("n_instances") === 6L)
    assert(r.getAs[Long]("n_singletons") === 1L)
    assert(r.getAs[Long]("max_df") === 3L)
    assert(r.getAs[Double]("singleton_frac") === 0.333333)
    assert(r.getAs[Double]("mean_df") === 2.0)
  }

  test("readability: hand-counted sentences/words/syllables recover the Flesch score") {
    val docs = Seq(
      (1L, "The cat sat. The dog ran!"),
      // one endless sentence of polysyllabic words → deeply negative score
      (2L, (1 to 10).map(_ => "aviation education").mkString(" "))
    ).toDF("doc_id", "text")
    val out = TextAnalysis.readability(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // doc 1: terminators ". !" → 2 sentences; 6 \s+ tokens; vowel
    // groups e,a,a,e,o,a → 6 syllables; flesch = 206.835 − 1.015·3 − 84.6·1
    assert(out(1L).getAs[Long]("n_sentences") === 2L)
    assert(out(1L).getAs[Long]("n_words") === 6L)
    assert(out(1L).getAs[Long]("n_syllables") === 6L)
    assert(out(1L).getAs[Double]("flesch") === 119.19)
    assert(out(1L).getAs[Boolean]("readable"))
    // doc 2: no terminator → floored at 1 sentence; 20 words; aviation
    // a-ia-io = 3 vowel groups, education e-u-a-io = 4 → 70 syllables
    assert(out(2L).getAs[Long]("n_sentences") === 1L)
    assert(out(2L).getAs[Long]("n_words") === 20L)
    assert(out(2L).getAs[Long]("n_syllables") === 70L)
    assert(!out(2L).getAs[Boolean]("readable"))
  }

  test("piiReport: planted emails/SSNs/digit runs counted per source; clean source reports zero") {
    val docs = Seq(
      (1L, "s1", "contact a@b.com and c@d.org today"),   // 2 emails
      (2L, "s1", "ssn 123-45-6789 acct 12345678"),       // 1 ssn + 1 digit run
      (3L, "s2", "nothing sensitive here at all")
    ).toDF("doc_id", "source", "text")
    val out = TextAnalysis.piiReport(docs).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val s1 = out("s1")
    assert(s1.getAs[Long]("n_docs") === 2L)
    assert(s1.getAs[Long]("n_emails") === 2L)
    assert(s1.getAs[Long]("n_ssns") === 1L)
    assert(s1.getAs[Long]("n_digit_runs") === 1L)
    assert(s1.getAs[Long]("docs_email") === 1L)
    assert(s1.getAs[Long]("docs_any") === 2L)
    assert(s1.getAs[Double]("pii_incidence") === 1.0)
    val s2 = out("s2")
    assert(s2.getAs[Long]("docs_any") === 0L && s2.getAs[Double]("pii_incidence") === 0.0)
  }

  test("minhashSweep: per-threshold counts equal an independent full dedup run at that threshold") {
    // identical cluster (est 1.0) + perturbed copies that land between
    // the sweep cutoffs, so every threshold bucket is exercised
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val docs = (Seq((0L, base)) ++ (1 to 3).map(i => (i.toLong, base)) ++
      (4 to 9).map { i =>
        val drop = i - 2 // replace a growing suffix → decreasing jaccard
        (i.toLong, ((1 to (40 - drop)).map(j => s"tok$j") ++
          (1 to drop).map(j => s"new${i}_$j")).mkString(" "))
      }).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs, k = 64)
    val sweep = Dedup.minhashSweep(sigs, k = 64, bands = 16,
        thresholds = Seq(0.5, 0.7, 0.9)).collect()
      .map(r => r.getAs[Double]("threshold") ->
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("n_removable"))).toMap
    for (t <- Seq(0.5, 0.7, 0.9)) {
      val direct = Dedup.minhashLshFromSigs(sigs, k = 64, bands = 16,
        estThreshold = t).collect()
      assert(sweep(t)._1 === direct.length.toLong,
        s"threshold $t: sweep ${sweep(t)._1} vs direct ${direct.length}")
      assert(sweep(t)._2 === direct.map(_.getLong(1)).distinct.length.toLong)
    }
    // monotone: raising the cutoff can only lose pairs
    assert(sweep(0.5)._1 >= sweep(0.7)._1 && sweep(0.7)._1 >= sweep(0.9)._1)
    assert(sweep(0.9)._1 >= 3L, "identical cluster must survive the top cutoff")
    assert(sweep(0.5)._1 > sweep(0.9)._1,
      "perturbed copies must add pairs below the top cutoff")
  }

  test("betweenness: diamond graph splits credit across the two shortest paths") {
    // 1→2→4, 1→3→4: σ(1→4) = 2, so 2 and 3 each carry δ = 1/2
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    val bc = leakFree("betweenness")(GraphOps.betweenness(edges, Seq(1L, 2L, 3L, 4L)))(
      _.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap)
    assert(bc(2L) === 0.5 && bc(3L) === 0.5)
    assert(bc.getOrElse(4L, 0.0) === 0.0) // endpoint only, never interior
    assert(bc.getOrElse(1L, 0.0) === 0.0)
  }

  test("betweenness: disconnected component reports 0.0, not absence") {
    // pivots live in {1,2,3}; {10,11} is unreachable from every pivot —
    // the datasheet must still carry its nodes (as zeros), so callers
    // can tell "zero centrality" from "not computed"
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val bc = GraphOps.betweenness(edges, Seq(1L, 2L, 3L)).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(bc.keySet === Set(1L, 2L, 3L, 10L, 11L))
    assert(bc(2L) === 1.0) // interior of the pivot chain
    assert(bc(10L) === 0.0 && bc(11L) === 0.0)
  }

  test("betweenness: path graph recovers the closed-form interior counts") {
    // undirected path 1-2-3-4-5 (symmetrized), pivots = all, halved:
    // bc(3) = |{(1,4),(1,5),(2,4),(2,5)}| = 4; bc(2) = bc(4) = 3
    val up = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val edges = up.unionAll(up.select(col("dst").as("src"), col("src").as("dst")))
    val bc = GraphOps.betweenness(edges, Seq(1L, 2L, 3L, 4L, 5L)).collect()
      .map(r => r.getLong(0) -> r.getDouble(1) / 2.0).toMap
    assert(bc(3L) === 4.0 && bc(2L) === 3.0 && bc(4L) === 3.0)
    assert(bc(1L) === 0.0 && bc(5L) === 0.0)
  }

  test("lexicalDiversity: sorted-boundary scan counts types and hapaxes exactly") {
    val docs = Seq(
      (1L, "a b a c b a"),  // 6 tokens, 3 types (a,b,c), 1 hapax (c)
      (2L, "x x x x"),      // no hapax
      (3L, "u v w")         // all hapax
    ).toDF("doc_id", "text")
    val out = TextAnalysis.lexicalDiversity(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_tokens") === 6L)
    assert(out(1L).getAs[Long]("n_types") === 3L)
    assert(out(1L).getAs[Long]("n_hapax") === 1L)
    assert(out(1L).getAs[Double]("ttr") === 0.5)
    assert(out(1L).getAs[Double]("hapax_frac") === 0.333333)
    assert(out(1L).getAs[Double]("guiraud") === 1.224745) // 3/√6
    assert(out(2L).getAs[Long]("n_types") === 1L &&
      out(2L).getAs[Double]("hapax_frac") === 0.0)
    assert(out(3L).getAs[Double]("ttr") === 1.0 &&
      out(3L).getAs[Double]("hapax_frac") === 1.0)
  }

  test("embedStats: planted two-vector labels recover exact centroid norm and spread") {
    val docs = Seq(
      (1L, Array(1.0f, 0.0f), 0),  // label 0: centroid (.5,.5)
      (2L, Array(0.0f, 1.0f), 0),
      (3L, Array(0.6f, 0.8f), 1),  // label 1: two identical unit vectors
      (4L, Array(0.6f, 0.8f), 1)
    ).toDF("vec_id", "vec", "label")
    val out = Similarity.embedStats(docs, "vec_id", "vec", "label").collect()
      .map(r => r.getAs[Int]("label") -> r).toMap
    val l0 = out(0)
    assert(l0.getAs[Long]("n_vecs") === 2L)
    assert(l0.getAs[Double]("centroid_norm") === 0.707107) // sqrt(.5)
    assert(l0.getAs[Double]("mean_sq_norm") === 1.0)
    assert(l0.getAs[Double]("spread") === 0.5) // E‖v‖² − ‖c‖²
    val l1 = out(1)
    assert(l1.getAs[Double]("centroid_norm") === 1.0)
    assert(l1.getAs[Double]("spread") === 0.0) // identical vectors: no spread
  }
}

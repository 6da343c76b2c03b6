package graft

import graft.queries.{PipelineQueries, RelationalQueries}

/** CI-checked physical-plan properties — the SURVEY §3 scale claims
  * (pushdown, column pruning, broadcast of small dims, top-k without a
  * global sort) asserted on the real query set instead of audited by
  * hand. A regression that silently de-optimizes a plan fails here
  * even while results stay correct.
  */
class PlanAuditSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf)
      .queryExecution.executedPlan.toString

  test("q1_agg: shipdate filter reaches the parquet scan; unused columns pruned") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"),
      s"expected pushed shipdate filter:\n$p")
    // 11-column table, 6-column query: the scan schema must not carry
    // the join keys / tax it never uses
    assert(!p.contains("l_tax") && !p.contains("l_partkey"),
      s"expected pruned ReadSchema:\n$p")
  }

  test("q5_multijoin: dim filters pushed; nation/region broadcast") {
    val p = plan("q5_multijoin")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast dims:\n$p")
    assert(p.contains("PushedFilters") && p.contains("r_name"),
      s"expected pushed region filter:\n$p")
  }

  test("sim_topk: per-partition top-k, no global sort") {
    val p = plan("sim_topk")
    assert(p.contains("TakeOrderedAndProject"), s"expected TakeOrderedAndProject:\n$p")
    assert(!p.contains("\nSort "), s"expected no global Sort:\n$p")
  }

  test("text_decontam: eval shingles broadcast; corpus side joins with no pre-join shuffle") {
    val p = plan("text_decontam")
    // the eval/benchmark side must reach the corpus-sized side as a
    // broadcast — a sort-merge join here would shuffle the full corpus
    // shingle set at 100 TB
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast eval side:\n$p")
    assert(!p.contains("SortMergeJoin"), s"expected no corpus-side SMJ:\n$p")
    // EXACT pins (r16, ADVICE item 4 — the r15 <=4/<=2 ceilings could
    // mask a future unintended exchange). The docsW spread width is
    // byte-sized since r16, so on this sub-64KB fixture the spread
    // gates OFF entirely (width 1): zero REPARTITION_BY_NUM, and the
    // algorithmic exchanges are exactly the eval-side sh distinct plus
    // the final per-doc groupBy (which rode the spread's partitioning
    // when the spread fired).
    assert("REPARTITION_BY_NUM".r.findAllIn(p).size === 0,
      s"expected the byte-gated spread to be a no-op at this SF:\n$p")
    assert("ENSURE_REQUIREMENTS".r.findAllIn(p).size === 2,
      s"expected exactly the eval-distinct + final-groupBy exchanges:\n$p")
  }

  test("text_decontam_bloom: codegen'd sketch probe prunes the corpus stream pre-join") {
    val p = plan("text_decontam_bloom")
    // the Bloom probe must sit in the corpus-side map stage (a Filter
    // feeding the verify join) — if it disappears, the verify join is
    // processing the FULL corpus shingle stream and the scale path is
    // just text_decontam with extra steps
    assert(p.contains("graft_bloom_might_contain"),
      s"expected the native bloom probe in the plan:\n$p")
    // probe is a Filter, not buried post-join
    assert("Filter.*graft_bloom_might_contain".r.findFirstIn(p).isDefined,
      s"expected the bloom probe as a pre-join Filter:\n$p")
  }

  test("dedup_incremental: corpus side verified map-only via broadcast candidates") {
    val p = plan("dedup_incremental")
    assert(p.contains("graft_bloom_might_contain"),
      s"expected the bloom prefilter on the snapshot side:\n$p")
    // both the corpus verify pass and the snapshot anti-join must ride
    // broadcasts of candidate-sized data — a sort-merge join anywhere
    // here means a corpus-sized shuffle at 100 TB
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast verify joins:\n$p")
    assert(!p.contains("SortMergeJoin"), s"expected no corpus-sized shuffle join:\n$p")
  }

  test("text_repetition: shuffle-free single-pass projection") {
    val p = plan("text_repetition")
    assert(!p.contains("Exchange"), s"expected no shuffle:\n$p")
  }

  test("text_entropy: shuffle-free map-only scan; native expression inside codegen") {
    val p = plan("text_entropy")
    assert(!p.contains("Exchange"), s"expected no shuffle:\n$p")
    assert(p.contains("graft_char_entropy"), s"expected the native expression:\n$p")
    // codegen'd stages render with the `*(n)` star in toString
    assert(p.contains("*(1) Project"), s"expected codegen'd projection:\n$p")
  }

  test("dedup_edit: blocked self-join — no cartesian; bounded levenshtein after the join") {
    val p = plan("dedup_edit")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"blocking key must drive an equi-join:\n$p")
    assert(p.toLowerCase.contains("levenshtein"), s"expected levenshtein verify:\n$p")
  }

  // bitextMine is EAGER since r16 (it checkpoints the datasheet so the
  // two corpus-sized caches can be released in-library), so the
  // declared queries' executedPlan is just the checkpoint scan; the
  // pins below audit the LAZY plan that checkpoint action executes
  // (Similarity.bitextMinePlan — same wiring as the declared queries).
  private def bitextPlan(planes: Int): String = {
    import org.apache.spark.sql.functions.col
    val d = graft.core.TestData.read(spark, sf, "documents")
    val embd = graft.pipeline.TextAnalysis.hashEmbedding(d, dims = 64)
      .join(d.select(col("doc_id"), col("lang")), "doc_id")
    val (sheet, release) = graft.pipeline.Similarity.bitextMinePlan(
      embd, "doc_id", "vec", "lang", srcLang = "en", planes = planes)
    val p = sheet.queryExecution.executedPlan.toString
    release()
    p
  }

  test("train_bitext: both rank windows get the map-side WindowGroupLimit") {
    // |X|·|Y| scored rows: the forward/backward top-k must prune
    // map-side (WindowGroupLimit) so only ~k rows per key reach the
    // rank shuffles — the difference between shuffling k·|X| and
    // shuffling the whole scored relation
    val p = bitextPlan(planes = 0)
    assert(p.contains("WindowGroupLimit"), s"expected map-side group limit:\n$p")
  }

  test("train_bitext_lsh: imperative bucket kernel — no join in the scoring path") {
    // the scale path scores co-partitioned buckets inside mapPartitions
    // (the exact kernel's FMA discipline): the candidate generation
    // must be ONE bucket repartition — never a CartesianProduct/BNLJ,
    // and never a declarative bucket equi-join materializing pair rows
    // (measured ~1 µs/pair vs the kernel's ~18 ns) — and the rank
    // windows still prune map-side
    val p = bitextPlan(planes = 6)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"scale path must not cross-join:\n$p")
    assert(p.contains("WindowGroupLimit"), s"expected map-side group limit:\n$p")
    assert(p.contains("MapPartitions") || p.contains("mapPartitions") ||
      p.contains("SerializeFromObject"), s"expected the imperative kernel:\n$p")
  }

  test("dl_join: pattern scans prune to attribute dirs over the bucketed static log") {
    val p = SparkEntry.queries("dl_join")(spark, sf)
      .queryExecution.executedPlan.toString
    // every pattern clause reads ONLY its attribute's directory of the
    // attr-partitioned, e-bucketed catalog layout (the AVET+EAVT shape)
    assert(p.contains("Bucketed: true"), s"expected bucketed scans:\n$p")
    Seq("r_name", "n_regionkey_ref", "c_nationkey_ref", "c_name", "n_name")
      .foreach(a => assert(p.contains(s"= $a)"),
        s"expected partition pruning to a=$a:\n$p"))
    // the conjunction itself shuffles nothing: the only allowed
    // hash-partitioning Exchange is the final find-var distinct
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"expected at most the final-distinct Exchange:\n$p")
  }

  test("dl_lookup: point read prunes every attribute dir to one bucket file, no shuffle") {
    val p = SparkEntry.queries("dl_lookup")(spark, sf)
      .queryExecution.executedPlan.toString
    // the EAVT point-read shape: e = const selects exactly the ONE
    // bucket that can hold the entity, in each attribute dir (the
    // bucket count itself is volume-sized — see bucketedDb)
    assert("SelectedBucketsCount: 1 out of \\d+".r.findFirstIn(p).isDefined,
      s"expected single-bucket pruning:\n$p")
    assert(!p.contains("Exchange"), s"expected no shuffle for a point read:\n$p")
  }

  test("dedup_minhash: verify joins never reshuffle the bucketed signature sidecar") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // AQE wraps the plan in an opaque adaptive node; disable it here so
    // the static tree is walkable (the partitioning property is the same)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = PipelineQueries.queries("dedup_minhash")(spark, sf)
        .queryExecution.executedPlan
      def sidecarScans(p: org.apache.spark.sql.execution.SparkPlan) =
        p.collect { case f: FileSourceScanExec
          if f.tableIdentifier.exists(_.table.startsWith("graft_minhash_sidecar")) => f }
      val scans = sidecarScans(plan)
      // the candidate-verify stage fetches both pair sides' signatures
      // from the persisted sidecar (no signature recomputation): 2
      // verify fetches + 1 grouping fetch. The r16 de-checkpoint of
      // `groups` leaves its other branch copies (identical-explode,
      // the two banded consumers) as static ReusedExchange of the one
      // sig-grouping exchange — reuse, never recomputation.
      val reused = plan.collect {
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec
          if sidecarScans(r.child).nonEmpty => r
      }
      assert(scans.size === 3 && reused.size === 2,
        s"expected 3 sidecar scans + 2 reused group exchanges:\n$plan")
      // ...and no DOC-KEYED shuffle ever sits above a sidecar scan: the
      // corpus-sized signature relation is joined in place (candidates
      // move to IT), which is the 100 TB verify shape. (At test scale
      // the planner broadcasts the candidates and rightly skips
      // bucketed reading; the SMJ case below pins the bucketed path.
      // The sig-keyed grouping exchange — the algorithm's one linear
      // exact-collapse pass — is exempt: it was always present, hidden
      // behind the pre-r16 checkpoint.)
      val reshuffled = plan.collect {
        case sh: ShuffleExchangeExec
          if sh.outputPartitioning.toString.contains("doc_id") => sh
      }.flatMap(sh => sidecarScans(sh.child))
      assert(reshuffled.isEmpty, s"sidecar scan under a doc-keyed shuffle:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // runtime guard for the r16 de-checkpoint: with AQE on, the
    // grouping branches must share ONE sig exchange (ReusedExchange in
    // the final adaptive plan) — if subtree identity ever breaks, the
    // corpus-sized grouping recomputes per branch.
    val df = PipelineQueries.queries("dedup_minhash")(spark, sf)
    df.collect()
    val fin = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(fin.contains("ReusedExchange"),
      s"expected runtime reuse of the sig-grouping exchange:\n$fin")
  }

  test("minhash sidecar: a sort-merge verify join reads the buckets, shuffle-free") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // when candidates are too big to broadcast (the 100 TB case, forced
    // here with a merge hint) the doc_id-bucketed sidecar joins with a
    // Sort but NO Exchange on the signature side
    val table = "graft_minhash_sidecar_spec"
    graft.sources.Catalog.recreate(spark, table) {
      graft.pipeline.Dedup.writeMinHashSidecar(
        graft.core.TestData.read(spark, sf, "documents"), table, k = 64): Unit
    }
    val sidecar = spark.table(table)
    val pairs = Seq((0L, 1L), (2L, 3L)).toDF("a", "b")
    val joined = pairs.join(
      sidecar.select(col("doc_id").as("a"), col("sig").as("sa")).hint("merge"), "a")
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), s"expected SMJ:\n$p")
    assert(p.contains("Bucketed: true"), s"expected bucketed sidecar scan:\n$p")
    // exactly one shuffle: the pairs side moving TO the sidecar's buckets
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"expected the pairs-side Exchange only:\n$p")
  }

  test("token-set sidecar: ngram verify fetch joins read the buckets, shuffle-free") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // the 100 TB case (candidates too big to broadcast, forced with a
    // merge hint): the doc_id-bucketed token sets join with a Sort but
    // NO Exchange on the corpus-sized side — candidates move to them
    val table = "graft_ngram_toks_spec"
    graft.sources.Catalog.recreate(spark, table) {
      graft.pipeline.Dedup.writeTokenSetSidecar(
        graft.core.TestData.read(spark, sf, "documents"), table): Unit
    }
    val sidecar = spark.table(table)
    val pairs = Seq((0L, 1L), (2L, 3L)).toDF("a", "b")
    val joined = pairs.join(
      sidecar.select(col("doc_id").as("a"), col("toks").as("ta")).hint("merge"), "a")
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), s"expected SMJ:\n$p")
    assert(p.contains("Bucketed: true"), s"expected bucketed sidecar scan:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"expected the pairs-side Exchange only:\n$p")
  }

  test("dedup_ngram: verify joins never reshuffle the bucketed token-set sidecar") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = PipelineQueries.queries("dedup_ngram")(spark, sf)
        .queryExecution.executedPlan
      // the keyed scans (doc_id in the read schema ⇒ bucketed): the
      // verify fetches and the prefix stage's per-doc windows. The
      // toks-only scan feeding the global token-df AGGREGATION rightly
      // shuffles by tok — that is the aggregation, not a fetch.
      def keyedScans(p: org.apache.spark.sql.execution.SparkPlan) =
        p.collect { case f: FileSourceScanExec
          if f.tableIdentifier.exists(_.table.startsWith("graft_ngram_toks")) &&
            f.requiredSchema.fieldNames.contains("doc_id") => f }
      assert(keyedScans(plan).nonEmpty, s"expected token-set sidecar scans:\n$plan")
      // no shuffle Exchange above a keyed sidecar scan: token sets join
      // (and window) in place — the candidate side moves, at any scale.
      // This also pins the free win of the bucketed layout: the per-doc
      // rnk/sz windows of the prefix stage need no Exchange either.
      val reshuffled = plan.collect { case sh: ShuffleExchangeExec => sh }
        .flatMap(sh => keyedScans(sh.child))
      assert(reshuffled.isEmpty, s"keyed token-set scan under a shuffle:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  /** Windows that consume CORPUS-scale rows (their child chain reaches
    * the scan without passing an Aggregate) — these are the ones whose
    * partition key must never be a whole language at 100 TB. Windows
    * over aggregated relations (distinct-value / coarse-bucket rows)
    * are exempt: their partitions are small by construction. */
  private def docLevelWindowSpecs(name: String): Seq[Seq[String]] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    // AQE wraps the tree in an opaque adaptive node — disable it so
    // the static plan is walkable (same discipline as the minhash pin)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = PipelineQueries.queries(name)(spark, sf)
        .queryExecution.executedPlan
      def reachesScanWithoutAgg(p: SparkPlan): Boolean = p match {
        case _: HashAggregateExec | _: ObjectHashAggregateExec |
             _: SortAggregateExec => false
        case _: org.apache.spark.sql.execution.FileSourceScanExec => true
        case other => other.children.exists(reachesScanWithoutAgg)
      }
      plan.collect {
        case w: WindowExec if reachesScanWithoutAgg(w.child) =>
          w.partitionSpec.map(_.toString)
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("sample_domain_mix: no language-wide window over corpus rows (two-phase mix)") {
    // the cumulative fill must NEVER put a whole language through one
    // window partition: corpus-level windows partition by
    // (pred_lang, md5-prefix bucket) — the boundary bucket — while
    // language-only windows are allowed solely over the tiny
    // aggregated cutoff relation
    val specs = docLevelWindowSpecs("sample_domain_mix")
    assert(specs.nonEmpty, "expected the boundary-bucket window")
    specs.foreach { s =>
      assert(s.size >= 2, s"corpus-level window keyed by a whole language: $s")
    }
  }

  test("text_ppl_filter: no language-wide window over corpus rows (tie-group ranking)") {
    val specs = docLevelWindowSpecs("text_ppl_filter")
    assert(specs.nonEmpty, "expected the tie-group row_number window")
    specs.foreach { s =>
      assert(s.size >= 2, s"corpus-level window keyed by a whole language: $s")
    }
  }

  test("dedup_spans: one corpus explode — the flag branch reuses the (sh, doc_id) stage") {
    // both aggregate branches (per-doc span counts, cross-doc flags)
    // sit on the SAME (sh, doc_id) shuffle: AQE materializes it once
    // and the second branch is a ReusedExchange. A refactor that
    // breaks canonical equality (a pruned aggregate, a missing
    // isnotnull) silently re-explodes and re-hashes the whole corpus —
    // the dominant cost at 100 TB — so pin the reuse on the final
    // adaptive plan, not the initial one.
    val df = PipelineQueries.queries("dedup_spans")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val finalSection = p.split("== Initial Plan ==").head
    assert(finalSection.contains("ReusedExchange"),
      s"expected the flag branch to reuse the (sh, doc_id) stage:\n$finalSection")
    assert("Generate explode".r.findAllIn(finalSection).size === 1,
      s"expected exactly one corpus explode in the final plan:\n$finalSection")
  }

  // q_concurrency and q_interval_coalesce feed one boundary relation
  // to several consumers without a checkpoint, relying on AQE exchange
  // reuse to run the sessionize subtree (events scan + per-user window
  // exchange) once. A refactor that breaks subtree identity would
  // re-scan the corpus per consumer with identical rows, so pin the
  // reuse and the single scan on the final adaptive plan.
  Seq("q_concurrency", "q_interval_coalesce").foreach { name =>
    test(s"$name: one events scan, the boundary subtree served by exchange reuse") {
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect()
      val finalSection = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(finalSection.contains("ReusedExchange"),
        s"expected the boundary subtree's exchange to be reused:\n$finalSection")
      assert("Scan parquet|FileScan parquet".r.findAllIn(finalSection).size === 1,
        s"expected one events scan in the final plan:\n$finalSection")
    }
  }

  test("corpus_profile: one fused corpus scan, one grouping-sets shuffle") {
    // every per-row metric (lang id, quality, PII probe) must ride ONE
    // projection over ONE scan; the rollup is the only exchange. A
    // second scan or a join here means the datasheet re-reads 100 TB.
    val p = plan("corpus_profile")
    assert("Scan parquet|FileScan parquet".r.findAllIn(p).size === 1,
      s"expected one corpus scan:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      s"expected only the rollup exchange:\n$p")
    assert(!p.contains("Join"), s"expected no join:\n$p")
  }

  test("text_src_overlap: the (source, sh) vocabulary stage materializes once") {
    // the self-join's two sides and the per-source totals all read the
    // SAME distinct (source, sh) relation: at least one branch must be
    // an AQE ReusedExchange, and the final plan must not explode the
    // corpus three times
    val df = PipelineQueries.queries("text_src_overlap")(spark, sf)
    df.collect()
    val finalSection = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(finalSection.contains("ReusedExchange"),
      s"expected vocabulary-stage reuse:\n$finalSection")
    assert("Generate explode".r.findAllIn(finalSection).size <= 2,
      s"expected at most two corpus explodes in the final plan:\n$finalSection")
  }

  test("sample_stratified: per-stratum top-N gets the map-side WindowGroupLimit") {
    // the one remaining language-partitioned corpus window is a
    // row_number <= N: Spark's WindowGroupLimit keeps only N rows per
    // group BEFORE the shuffle, so the majority-language partition
    // never materializes corpus-scale input — pin the optimization so
    // a refactor that defeats it (e.g. filtering on a derived column)
    // fails here
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = PipelineQueries.queries("sample_stratified")(spark, sf)
        .queryExecution.executedPlan.toString
      assert(p.contains("WindowGroupLimit"),
        s"expected map-side WindowGroupLimit for the rn <= N filter:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("embeddings sidecar: rep-vector fetch joins the bucketed corpus shuffle-free") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // dedup_embed's verify stage fetches rep vectors by id; over the
    // vec_id-bucketed corpus a merge join sorts but never reshuffles
    // the corpus side (candidate pairs move to it)
    PipelineQueries.queries("dedup_embed")(spark, sf) // builds the bucketed table
    val table = spark.catalog.listTables().collect()
      .map(_.name).find(_.startsWith("graft_emb_bucketed")).get
    val corpus = spark.table(table)
    val pairs = Seq((0L, 1L), (2L, 3L)).toDF("rep", "id")
    val joined = pairs.join(
      corpus.select(col("vec_id").as("rep"), col("vec").as("rvec")).hint("merge"), "rep")
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), s"expected SMJ:\n$p")
    assert(p.contains("Bucketed: true"), s"expected bucketed corpus scan:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"expected the pairs-side Exchange only:\n$p")
  }

  test("sim_ann: corpus side is the persisted index scan, not a signature pass") {
    val p = plan("sim_ann")
    // the index is the PUBLISHED parquet sidecar (versioned dir behind
    // the atomic pointer); the signature expression (xxhash64-based
    // plane dots) must not appear over the corpus — the probe ring is
    // DRIVER-computed constants reaching the scan as a pushed In filter
    assert(p.contains("Scan parquet"), s"expected persisted sidecar scan:\n$p")
    assert(p.contains("/ann/v0-"), s"expected the published version dir in the scan:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k merge:\n$p")
    assert(p.contains("In(bucket, ["),
      s"expected the probe ring pushed to the sidecar scan:\n$p")
    assert(!p.contains("Join"), s"expected a pure filtered scan, no join:\n$p")
  }

  test("sim_ann_text: centered index over hashing-trick vectors serves a pruned scan") {
    // same contract as sim_ann, on the embedding family that NEEDS the
    // mean-centering: without it one bucket holds most of the corpus
    // and the pushed ring stops pruning (the scan would still "work" —
    // this pin plus the occupancy ground-truth spec is what keeps the
    // pathology from returning silently)
    val p = plan("sim_ann_text")
    assert(p.contains("Scan parquet"), s"expected persisted sidecar scan:\n$p")
    assert(p.contains("/ann_text/v0-"), s"expected the published version dir:\n$p")
    assert(p.contains("In(bucket, ["),
      s"expected the probe ring pushed to the sidecar scan:\n$p")
    assert(!p.contains("Join"), s"expected a pure filtered scan, no join:\n$p")
  }

  test("sim_ivf: served from the persisted cell-assignment sidecar") {
    val p = plan("sim_ivf")
    assert(p.contains("Scan parquet"), s"expected persisted sidecar scan:\n$p")
    assert(p.contains("/ivf/v0-"), s"expected the published version dir in the scan:\n$p")
  }

  // --- events family (restored r11 after the ts-encoding break): pin
  // the scale shapes so a regression fails CI even while results match.

  test("q_asof_join: union+window merge — no join operator, one key shuffle") {
    val p = plan("q_asof_join")
    // the whole point of the union+window as-of is that NO join runs:
    // a per-row probe join (or worse, an inequality nested-loop) is the
    // shape that dies at 100 TB
    assert(!p.contains("Join"), s"expected the union+window merge, no join:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"expected exactly the one user_id window shuffle:\n$p")
  }

  test("q_range_join: banded equi-join — never a nested-loop/cartesian") {
    val p = plan("q_range_join")
    // a raw |t1-t2| <= r join degenerates to BroadcastNestedLoopJoin /
    // CartesianProduct: O(n²) compares. The band bucketing must keep
    // this an equi hash/merge join on __bucket.
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      s"expected banded equi-join, not an O(n²) shape:\n$p")
  }

  test("q_sessionize: both windows and the session agg share ONE user shuffle") {
    val p = plan("q_sessionize")
    // lag-window, cumulative-sum window, and the (user_id, session_id)
    // aggregation are all user_id-clustered: hashpartitioning(user_id)
    // satisfies every downstream distribution, so exactly one Exchange
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"expected one shared user_id shuffle:\n$p")
    assert(!p.contains("Join"), s"expected no join in sessionization:\n$p")
  }

  test("q_pivot: declared pivot values — one conditional-agg shuffle, no discovery pass") {
    val p = plan("q_pivot")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"expected the single groupBy shuffle:\n$p")
  }

  test("q_props_extract: extraction stays in the map stage before the one agg shuffle") {
    val p = plan("q_props_extract")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"expected map-side extract + one groupBy shuffle:\n$p")
    assert(p.contains("regexp_extract"),
      s"expected the codegen'd extraction in the plan:\n$p")
  }

  test("sim_pq: ADC scores the compressed sidecar map-only; rerank fetch broadcast") {
    val p = plan("sim_pq")
    // candidate selection: LUT scoring projection + heap top-k over
    // the (id, code) sidecar — no shuffle, no sort of the corpus
    assert(p.contains("TakeOrderedAndProject"), s"expected heap top-k:\n$p")
    assert(p.contains("shiftrightunsigned"), s"expected codegen'd ADC probe:\n$p")
    // re-rank: the bounded candidate list broadcasts to the raw
    // vectors; the vector table must never shuffle
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast rerank join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"vector table must not shuffle:\n$p")
  }

  test("q_grouping_sets: the three sets expand in ONE pass — one Expand, one shuffle") {
    val p = plan("q_grouping_sets")
    assert(p.contains("Expand"), s"expected a single-pass Expand:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"expected one aggregation shuffle (not a per-set union of scans):\n$p")
  }

  test("sample_weighted: hash keys map-only; top-k without any shuffle or global sort") {
    val p = plan("sample_weighted")
    assert(p.contains("TakeOrderedAndProject"), s"expected TakeOrderedAndProject:\n$p")
    assert(!p.contains("Exchange"),
      s"expected a shuffle-free A-ES selection (keys are a projection):\n$p")
  }

  test("text_bpe_pairs: corpus reduces to vocab before the pair explode — two shuffles") {
    val p = plan("text_bpe_pairs")
    // shuffle 1: word-frequency reduce (corpus → vocab); shuffle 2:
    // pair-count reduce over vocab rows. The pair explode must sit
    // between them, never over raw corpus rows.
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2,
      s"expected exactly the two reduce shuffles:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"expected heap top-k:\n$p")
  }

  test("text_collocations: PMI joins ride the reduced relations; heap top-k, scalar totals broadcast") {
    val p = plan("text_collocations")
    assert(p.contains("TakeOrderedAndProject"), s"expected heap top-k:\n$p")
    assert(!p.contains("\nSort "), s"expected no global Sort:\n$p")
    // the two scalar totals must arrive as broadcast nested loops over
    // ONE row, never a shuffled join against the bigram relation
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"expected broadcast scalar totals:\n$p")
  }

  test("sample_temperature: ONE corpus scan + reduce; normalization is |sources|-sized windows") {
    val p = plan("sample_temperature")
    // the tempting branch-and-rejoin form re-plans the corpus reduce
    // per scalar branch (three full scans); the shipped whole-relation
    // window form reads the corpus once
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"expected exactly one corpus scan:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"expected only the per-source reduce shuffle:\n$p")
  }

  test("q_topk_group: rank filter becomes a map-side WindowGroupLimit before the shuffle") {
    val p = plan("q_topk_group")
    // Spark 3.5's WindowGroupLimit: a per-group heap runs on the MAP
    // side, so the window shuffle carries <= N rows per key per
    // partition — the difference between shipping 2 rows and a
    // customer's whole order history at 100 TB
    assert(p.contains("WindowGroupLimit"), s"expected WindowGroupLimit:\n$p")
  }

  test("graph_jaccard: per-node top-k gets WindowGroupLimit; candidates never cartesian") {
    val p = plan("graph_jaccard")
    // rank<=k must pre-filter map-side (a node's full candidate list
    // never crosses the wire), and pairs must come from the shared-item
    // equi-join, not any all-pairs shape
    assert(p.contains("WindowGroupLimit"), s"expected WindowGroupLimit:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
  }

  test("graph_jaccard + dedup_containment: self-join sides share one evaluation") {
    // r16: runtime exchange reuse did NOT cover either query's heavy
    // prep pipeline (stage audit: jaccard's pruning and containment's
    // tokenize+shingle+distinct each executed twice), so the prepared
    // relation is checkpointed once per invocation and both self-join
    // sides scan the SAME RDD — the prep subtree (parquet scan) must
    // be absent from the query's own plan. (r13's negative result
    // stands recorded at GraphOps.jaccardLinks: the array-explode
    // alternative to the self-join benched 1.8x slower.)
    for (name <- Seq("graph_jaccard", "dedup_containment")) {
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(p.contains("ExistingRDD"),
        s"$name: expected both sides on the checkpointed relation:\n$p")
      assert(!p.contains("Scan parquet"),
        s"$name: prep pipeline must run once inside the checkpoint:\n$p")
    }
  }

  test("graph_jaccard: both scoring orientations explode map-side — pair agg runs once") {
    // the unionByName shape ran the reduce-side pair aggregation
    // twice (one per orientation); the explode form scores both
    // directions from the single aggregated pair row — exactly one
    // pair-keyed HashAggregate pair (partial + final) in the plan
    val p = plan("graph_jaccard")
    assert(!p.contains("Union"), s"expected explode, not union:\n$p")
    assert("Generate explode".r.findAllIn(p).size === 1,
      s"expected the orientation explode:\n$p")
  }

  test("q_unpivot: wide-to-long is a map-only Expand — zero shuffles") {
    val p = plan("q_unpivot")
    assert(p.contains("Expand"), s"expected Expand:\n$p")
    assert(!p.contains("Exchange"), s"expected no shuffle:\n$p")
  }

  test("q_setops: set ops plan as aggregates/joins, never a cartesian") {
    val p = plan("q_setops")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
    assert(p.contains("PushedFilters") && p.contains("o_orderdate"),
      s"expected pushed year-range filters:\n$p")
  }

  test("sim_hybrid: all scorer branches read the one materialized tf") {
    // bm25's slice/dl/stats and the hash-embedding branch all derive
    // from the ONE (doc_id, tok) tf reduce. r15 relied on adaptive
    // exchange reuse, which the r16 stage audit showed NOT firing —
    // the tokenize pipeline executed four times — so tf is now
    // checkpointed once per invocation: the query's own plan must scan
    // the checkpoint, never re-explode the corpus.
    val df = (RelationalQueries.queries ++ PipelineQueries.queries)(
      "sim_hybrid")(spark, "/root/testdata/sf0.001")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("ExistingRDD"), s"expected the tf checkpoint scan:\n$p")
    // the only tokenize left in the plan is the ONE-ROW query
    // embedding (hashEmbedding over the LocalTableScan query doc) —
    // a second explode(split) would mean a corpus branch is
    // re-tokenizing instead of reading the checkpoint
    assert("Generate explode\\(split".r.findAllIn(p).size === 1,
      s"expected only the one-row query-doc tokenize in the serving plan:\n$p")
  }

  test("train_pairs: the bucket self-join materializes once across pos/neg/join consumers") {
    // contrastivePairs' scored pair relation feeds THREE consumers (the
    // positive window, the hard-negative window, and the negative⋈
    // positive anchor join). The subtrees are byte-identical, so AQE
    // must serve them from ONE materialized exchange — if a refactor
    // breaks subtree identity, the Σ|bucket|² candidate self-join
    // computes up to three times (reuse is an ADAPTIVE decision, so
    // inspect the plan after execution — the dedup_sweep discipline).
    val df = SparkEntry.queries("train_pairs")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("ReusedExchange"),
      s"expected the pair subtree's exchange reused across consumers:\n$p")
  }

  test("q_merge_cdc: changelog reduces by aggregation, never a per-key window") {
    val p = plan("q_merge_cdc")
    // latest-per-key must be the map-side-combinable max_by reduce; a
    // Window here means the raw changelog is being sorted per key —
    // the shape that dies at 100 TB changelog volume
    assert(!p.contains("Window"), s"expected no per-key window:\n$p")
    assert(p.contains("max_by") || p.contains("MaxBy"),
      s"expected max_by reduce:\n$p")
  }

  test("q_funnel: stage chain is min-reduces + joins, never a per-user sort") {
    val p = plan("q_funnel")
    assert(!p.contains("Window"), s"expected no per-user window:\n$p")
    // every stage min is a partial-aggregating HashAggregate
    assert(p.contains("HashAggregate"), s"expected hash-agg stage mins:\n$p")
  }

  test("q_retention: cohort matrix from reduces, never a per-user window") {
    val p = plan("q_retention")
    assert(!p.contains("Window"), s"expected no window:\n$p")
  }

  test("text_gopher: shuffle-free map-only gate inside codegen") {
    val p = plan("text_gopher")
    assert(!p.contains("Exchange"), s"expected no shuffle:\n$p")
    assert(p.contains("*(1) Project"), s"expected codegen'd projection:\n$p")
  }

  test("text_zipf: head via TakeOrdered, not a global vocab window") {
    val p = plan("text_zipf")
    assert(p.contains("TakeOrderedAndProject"),
      s"expected distributed TakeOrdered for the top-R head:\n$p")
    // the only corpus-sized exchange is the term-count shuffle; the
    // rank window runs over the R-row head (post-limit), never the
    // full vocabulary
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"expected one corpus-sized exchange (term count):\n$p")
  }

  test("dedup_soft: one corpus scan, one hash exchange, sizes via window") {
    // the groupBy+rejoin alternative scans and shuffles the corpus
    // twice (different projections, no AQE reuse) — the count window
    // shares the single text_hash exchange with the output
    val p = plan("dedup_soft")
    assert("Scan parquet|FileScan parquet".r.findAllIn(p).size === 1,
      s"expected one corpus scan:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      s"expected exactly one shuffle:\n$p")
    assert(p.contains("Window"), s"expected the count window:\n$p")
  }

  test("text_trigram_lm: equi-joins only; scored-once trigram relation reuses the position exchange") {
    val df = PipelineQueries.queries("text_trigram_lm")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val finalSection = p.split("== Initial Plan ==").head
    assert(!finalSection.contains("CartesianProduct"),
      s"n-gram count joins must be equi-joins:\n$finalSection")
    // the corpus position stream shuffles on (u,v,w) once: the
    // distinct-scoring branch and the final join share the exchange
    assert(finalSection.contains("ReusedExchange"),
      s"expected position-stream exchange reuse:\n$finalSection")
  }

  test("text_novelty: one shingle explode, one sh exchange, first-doc via window") {
    // the groupBy(sh)+rejoin shape explodes the corpus twice and (at
    // scale) shuffles it twice more for the SMJ — the min window
    // shares the single sh exchange with the output stream
    val p = plan("text_novelty")
    assert("Generate explode".r.findAllIn(p).size === 1,
      s"expected exactly one corpus shingle explode:\n$p")
    // 2 algorithmic exchanges (sh, doc_id); the byte-gated docsW
    // spread is a no-op on this sub-64KB fixture (r16)
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 2,
      s"expected only the sh and doc_id exchanges:\n$p")
    assert(p.contains("Window"), s"expected the min window:\n$p")
    assert(!p.contains("Join"), s"expected no join:\n$p")
  }

  test("text_lang_conf: shuffle-free map-only gate") {
    val p = plan("text_lang_conf")
    assert(!p.contains("Exchange"), s"expected no shuffle:\n$p")
  }

  test("corpus_ngram_stats: one shingle explode, map-side-combinable reduces only") {
    val p = plan("corpus_ngram_stats")
    assert("Generate explode".r.findAllIn(p).size === 1,
      s"expected exactly one corpus shingle explode:\n$p")
    assert(!p.contains("Join"), s"expected no join:\n$p")
    assert("partial_count|partial_sum".r.findFirstIn(p).isDefined,
      s"expected map-side partial aggregation:\n$p")
  }

  test("text_readability: shuffle-free map-only gate inside codegen") {
    val p = plan("text_readability")
    assert(!p.contains("Exchange"), s"expected no shuffle:\n$p")
    assert(p.contains("*(1) Project"), s"expected codegen'd projection:\n$p")
  }

  test("text_lexdiv: shuffle-free map-only gate — no (doc, tok) explode shuffle") {
    val p = plan("text_lexdiv")
    assert(!p.contains("Exchange"), s"expected no shuffle:\n$p")
    assert(!p.contains("Generate"), s"expected no corpus explode:\n$p")
  }

  test("text_pii_report: one corpus scan, one source exchange, partial aggs map-side") {
    val p = plan("text_pii_report")
    assert("Scan parquet|FileScan parquet".r.findAllIn(p).size === 1,
      s"expected one corpus scan:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      s"expected exactly the source-rollup shuffle:\n$p")
    assert("partial_count|partial_sum".r.findFirstIn(p).isDefined,
      s"expected map-side partial aggregation:\n$p")
  }

  test("dedup_sweep: ONE candidate pass — signature sidecar scanned like dedup_minhash, thresholds re-filter only") {
    // a per-threshold dedup rerun would multiply every scan/exchange by
    // |thresholds|; the sweep's plan must carry the same single
    // banding Generate as dedup_minhash plus one threshold explode
    val p = plan("dedup_sweep")
    val base = plan("dedup_minhash")
    val bandGen = "Generate posexplode".r.findAllIn(p).size
    assert(bandGen === "Generate posexplode".r.findAllIn(base).size,
      s"sweep must pay exactly dedup_minhash's banding passes, not |thresholds|×:\n$p")
    assert("Generate explode\\(\\[0\\.5".r.findAllIn(p).size === 1,
      s"expected one threshold explode over the candidate pairs:\n$p")
  }

  test("embed_stats: one explode, one (label,dim) exchange, tiny rollup — no centroid re-join") {
    val p = plan("embed_stats")
    assert(!p.contains("Join"),
      s"shift identity must avoid joining the centroid back:\n$p")
    assert("Generate posexplode".r.findAllIn(p).size === 1,
      s"expected exactly one vector explode:\n$p")
    assert("partial_sum".r.findFirstIn(p).isDefined,
      s"expected map-side partial sums:\n$p")
  }
}

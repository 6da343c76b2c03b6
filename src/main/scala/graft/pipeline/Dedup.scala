package graft.pipeline

import graft.core.Fixpoint
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (SURVEY.md §2C).
  *
  * Scale design notes (the point of each algorithm at 100 TB):
  *  - exact: one hash-shuffle on the content digest; keep-min-id via
  *    window (same partitioning, single exchange).
  *  - prefix-filtered Jaccard join: EXACT set-similarity self-join
  *    without the O(n²) cross product — candidates only need to share
  *    one token in their rarest-token prefix (PPJoin-style bound), so
  *    the join key space is tiny and skew-bounded.
  *  - MinHash+LSH: one pass to k-perm signatures (explode + min-agg,
  *    map-side combinable), band-bucket shuffle, candidate pairs only
  *    within buckets. Probabilistic recall; verify pass computes true
  *    Jaccard on candidates only.
  *  - SimHash: 64-bit signature via per-bit vote aggregation; pigeonhole
  *    block join (4×16-bit blocks) finds all pairs within hamming<=3
  *    exactly, and high-hamming pairs cheaply.
  *  - embedding near-dup: random-hyperplane LSH buckets, exact cosine
  *    verify within buckets only.
  */
object Dedup {

  private def toks(text: Column): Column = array_distinct(split(trim(text), "\\s+"))

  /** THE content-hash normalization — one definition shared by
    * [[exact]], the streaming dedup (FactStream.dedupStream) and the
    * curation stream's durable seen-hash sidecar, so the batch and
    * streaming dedup keys can never drift apart (a normalization
    * change here changes all three together). */
  def contentHash(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Exact dedup on normalized content hash: one surviving doc (min id)
    * per distinct content. */
  def exact(docs: DataFrame): DataFrame = {
    val hashed = docs.select(col("doc_id"), contentHash(col("text")).as("text_hash"))
    hashed.groupBy(col("text_hash")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("text_hash"))
  }

  /** SOFT dedup — frequency-based DOWN-WEIGHTING instead of dropping
    * (the SoftDeDup discipline, Xue et al. 2024; also the D4 paper's
    * observation that some duplication is informative): every doc
    * survives, but its sampling weight is 1/|cluster| over its exact
    * content-hash cluster, so a text duplicated k times contributes one
    * doc-equivalent of expected training mass. Emits the per-doc
    * datasheet a weighted-sampling trainer consumes: cluster size,
    * weight, and the weighted (effective) token count.
    *
    * Scale: ONE corpus scan and ONE hash-shuffle — cluster size is a
    * count window over partitionBy(text_hash), the same single-exchange
    * discipline as [[exact]]'s keep-min-id; a groupBy+rejoin shape
    * would scan and shuffle the corpus twice (the two scans project
    * different columns, so AQE cannot reuse the exchange). Plan-pinned
    * in PlanAuditSpec. */
  def softDedup(docs: DataFrame): DataFrame =
    softDedupFromHashed(softDedupHashed(docs))

  /** The (doc_id, text_hash, n_tokens) projection [[softDedup]] runs
    * on — exposed so the streaming twin's per-batch sidecar writes the
    * SAME keys (FactStream.softDedupStep) and can never drift. */
  def softDedupHashed(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      contentHash(col("text")).as("text_hash"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))

  /** The weight derivation over an already-hashed relation — the plan
    * both the batch operator and the streaming serving face run, so
    * streamed == batch by construction. */
  def softDedupFromHashed(hashed: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("text_hash"))
    hashed.withColumn("cluster_size", count(lit(1)).over(w))
      .select(col("doc_id"), col("cluster_size"),
        round(lit(1.0) / col("cluster_size"), 6).as("weight"),
        round(col("n_tokens") / col("cluster_size").cast("double"), 6)
          .as("effective_tokens"))
  }

  /** Duplication-multiplicity DATASHEET — the corpus-level accounting
    * view of [[exact]]: for each exact-hash cluster size k, how many
    * clusters, how many docs they hold, and how many docs full dedup
    * would remove (k−1 per cluster). The one-glance answer to "how
    * duplicated is this crawl" before any removal runs. Scale: the
    * hash reduce is [[exact]]'s shuffle; the k-histogram reduces over
    * the cluster relation (≤ distinct-content size) to at most
    * |distinct k| rows — both map-side combinable. */
  def dupStats(docs: DataFrame): DataFrame =
    docs.select(contentHash(col("text")).as("text_hash"))
      .groupBy(col("text_hash")).agg(count(lit(1)).as("k"))
      .groupBy(col("k")).agg(
        count(lit(1)).as("n_clusters"),
        sum(col("k")).as("n_docs"),
        sum(col("k") - 1).as("n_removable"))
      .select(col("k").as("cluster_size"), col("n_clusters"),
        col("n_docs"), col("n_removable"))

  /** Incremental snapshot-vs-corpus exact dedup — the production step
    * that dedups a NEW crawl snapshot against the EXISTING (already
    * deduped) corpus without reprocessing the corpus: survivors are the
    * snapshot docs whose normalized content hash appears nowhere in the
    * corpus, collapsed keep-min-id within the snapshot. Same
    * [[contentHash]] as [[exact]] and the streaming dedup, so all
    * three paths share one dedup key.
    *
    * Scale shape (both sides can be corpus-sized, so NEITHER side may
    * broadcast or shuffle whole): corpus hashes → Bloom sketch (built
    * distributedly, only the sketch reaches the driver) → snapshot
    * hashes probed map-only → the few candidates (true dups +
    * fpp×snapshot) are distinct-reduced and BROADCAST back over the
    * corpus, whose exact verify pass is therefore a map-only
    * broadcast-semi scan — the only shuffles touch candidate-sized
    * data and the final snapshot keep-min-id agg. No false negatives
    * from the sketch, so the output is exactly the anti-join. If the
    * snapshot is mostly duplicate (hits ~ snapshot-sized), fall back
    * to [[exact]] over the union instead of the broadcast. */
  def incrementalExact(newDocs: DataFrame, corpus: DataFrame,
                       fpp: Double = 0.01): DataFrame = {
    val newHashed = newDocs.select(col("doc_id"),
      contentHash(col("text")).as("text_hash"))
    // NULL hashes (null-text rows) stay out of the sketch: a NULL can
    // never equal-match in the exact verify, and the sketch build
    // itself requires non-null inputs. Snapshot-side NULL hashes fall
    // through the probe (null predicate → filtered) and the anti-join
    // (null never matches → kept), matching the oracle's NOT EXISTS.
    val corpusHashes = corpus.select(contentHash(col("text")).as("text_hash"))
      .filter(col("text_hash").isNotNull)
    // non-distinct count oversizes the sketch (never undersizes) and
    // stays a map-side-combined agg — a distinct here would shuffle
    // the full corpus, which is what this path exists to avoid
    val items = math.max(1L, corpusHashes.count())
    val bloom = corpusHashes.stat.bloomFilter("text_hash", items, fpp)
    val cand = newHashed
      .filter(graft.functions.BloomExpressions.bloomMightContain(col("text_hash"), bloom))
      .select(col("text_hash")).distinct()
    val hits = corpusHashes.join(broadcast(cand), "text_hash")
      .select(col("text_hash")).distinct()
    newHashed.join(broadcast(hits), Seq("text_hash"), "left_anti")
      .groupBy(col("text_hash")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("text_hash"))
  }

  /** CHARACTER-level near-dup pairs: blocking + bounded Levenshtein
    * verify — the edit-distance complement to the token-set signals
    * (token Jaccard cannot see a doc whose every word carries a small
    * typo; edit distance can). Classic record-linkage shape
    * (blocking key → in-block compare):
    *
    *  - blocking key = (first `prefixLen` chars, length ÷ `lenBand`
    *    band) — candidates are Σ|block|², never corpus²; an edit
    *    inside the prefix or across a band boundary is the documented
    *    recall trade every blocking scheme makes (run a second pass
    *    with a shifted key to tighten recall);
    *  - blocks larger than `maxBlock` are dropped before the
    *    self-join — the same boilerplate cap as the shingle-df bound
    *    (a templated 16-char prefix shared by a corpus fraction would
    *    otherwise cost df² pairs; what the cap excludes is exactly
    *    what [[graft.pipeline.TextAnalysis.boilerplate]]-style
    *    reports account for);
    *  - verify = levenshtein over the first `cmpLen` chars, via
    *    Spark's bounded-threshold variant — O(maxLev·cmpLen) per
    *    pair, not O(cmpLen²), and codegen'd;
    *  - `edit_sim` = 1 - lev/max(|a|,|b|) over the compared prefixes,
    *    kept when the ROUNDED value reaches `threshold` (the shared
    *    oracle boundary discipline).
    *
    * Fully deterministic (no hashing), so the whole pipeline —
    * blocking, cap, verify, rounding — is DuckDB-replicated
    * value-for-value. */
  def editDedup(docs: DataFrame, threshold: Double = 0.8,
                prefixLen: Int = 16, lenBand: Int = 64,
                cmpLen: Int = 256, maxBlock: Int = 256): DataFrame = {
    val d = docs.select(col("doc_id"),
      substring(col("text"), 1, prefixLen).as("pfx"),
      floor(length(col("text")) / lenBand).cast("long").as("band"),
      substring(col("text"), 1, cmpLen).as("cmp"))
    // block-size cap rides a window over the SAME (pfx, band)
    // partitioning the self-join shuffles on
    val sized = d.withColumn("bc",
      count(lit(1)).over(Window.partitionBy(col("pfx"), col("band"))))
      .filter(col("bc") <= maxBlock).drop("bc")
    // any pair passing `threshold` has lev <= (1-t)·cmpLen — the +1
    // headroom keeps the early-exit bound from ever excluding a pair
    // the rounded edit_sim filter would keep
    val maxLev = math.ceil((1.0 - threshold) * cmpLen).toInt + 1
    // the candidate pairs route through a (doc_a, doc_b) aggregate
    // before the levenshtein projection. Semantically it is the
    // pair-uniqueness guard; structurally it is the predicate-pushdown
    // BARRIER that keeps the verify affordable: filters on aggregate
    // outputs cannot sink below an Aggregate, so without it Catalyst
    // folds the edit_sim filter into the join CONDITION — levenshtein
    // evaluated once per predicate occurrence per key-equal candidate
    // (3×), all inside the single post-broadcast probe task (measured
    // 4.3 s; this shape 1.2 s at sf0.1). The pair shuffle also spreads
    // a hot block's verify work across the cluster instead of leaving
    // it on the probe task that found it.
    val cand = sized.as("a").join(sized.as("b"),
        col("a.pfx") === col("b.pfx") && col("a.band") === col("b.band") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(first(col("a.cmp")).as("ca"), first(col("b.cmp")).as("cb"))
    cand
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("ca"), col("cb"), maxLev).as("lev"),
        greatest(length(col("ca")), length(col("cb"))).as("mx"))
      .filter(col("lev") >= 0) // bounded variant marks > maxLev as -1
      .select(col("doc_a"), col("doc_b"), col("lev"),
        round(lit(1.0) - col("lev").cast("double") / col("mx"), 6)
          .as("edit_sim"))
      .filter(col("edit_sim") >= threshold)
  }

  /** EXACT all-pairs token-set Jaccard >= `threshold`, via prefix
    * filtering: order tokens by global rarity; if J(a,b) >= t the two
    * prefixes (first |s|-ceil(t*|s|)+1 rarest tokens) must intersect.
    * Join on prefix tokens, then verify true Jaccard on candidates.
    *
    * The candidate join additionally applies PPJoin's length and
    * positional filters (Xiao et al., WWW'08) as join predicates over
    * the (rnk, sz) columns the prefix stage already computes:
    *  - length: J <= min(|a|,|b|)/max(|a|,|b|), so a size-ratio below
    *    the threshold can never verify — the bound that keeps a
    *    TEMPLATED corpus (many docs sharing rare-ish prefix tokens,
    *    wildly varying sizes) from degrading toward O(df²) per token;
    *  - positional: matching at prefix positions (rnk_a, rnk_b) caps
    *    the overlap at 1 + min(|a|-rnk_a, |b|-rnk_b), which must reach
    *    ceil(t/(1+t)·(|a|+|b|)) for J >= t.
    * Both only PRUNE pairs the exact verify would reject — the result
    * set is identical (spec-pinned on a templated fixture). */
  def ngramJaccard(docs: DataFrame, threshold: Double): DataFrame =
    ngramJaccard(docs, threshold, ppFilters = true)

  private[graft] def ngramJaccard(docs: DataFrame, threshold: Double,
                                  ppFilters: Boolean): DataFrame =
    ngramJaccardFromToks(
      docs.select(col("doc_id"), toks(col("text")).as("toks")),
      threshold, ppFilters)

  /** [[ngramJaccard]] over a precomputed (doc_id, toks) relation —
    * typically the doc_id-bucketed sidecar from
    * [[writeTokenSetSidecar]], which makes BOTH verify fetch joins
    * (candidates → ta, candidates → tb) Exchange-free on the
    * corpus-sized token-set side: candidate pairs move to the buckets,
    * the token sets never reshuffle. Same sidecar discipline as
    * minhash; at 100 TB this path carries dedup_ngram, dedup_clusters
    * and dedup_keep_best. */
  def ngramJaccardFromToks(tokSets: DataFrame, threshold: Double,
                           ppFilters: Boolean = true): DataFrame = {
    val t = tokSets.select(col("doc_id"), col("toks"))
    val cands = ngramCandidatesFromToks(t, threshold, ppFilters)
    val withSets = cands
      .join(t.select(col("doc_id").as("a"), col("toks").as("ta")), "a")
      .join(t.select(col("doc_id").as("b"), col("toks").as("tb")), "b")
    withSets
      .withColumn("jac",
        size(array_intersect(col("ta"), col("tb"))).cast("double") /
          size(array_union(col("ta"), col("tb"))))
      .filter(col("jac") >= threshold)
      .select(col("a"), col("b"), round(col("jac"), 6).as("jac"))
  }

  /** Token-set sidecar written once at ingest: (doc_id, toks) BUCKETED
    * by doc_id — the persisted fetch-side artifact for the exact-
    * Jaccard verify stage (and anything else keyed on doc_id that
    * needs the token sets). `buckets = 0` sizes by volume: ~200k docs
    * per bucket, floor 8, cap cores (see [[writeMinHashSidecar]] for
    * the measured rationale). */
  def writeTokenSetSidecar(docs: DataFrame, table: String,
                           buckets: Int = 0): DataFrame = {
    val nb = if (buckets > 0) buckets else volumeBuckets(docs)
    docs.select(col("doc_id"), toks(col("text")).as("toks"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .bucketBy(nb, "doc_id").sortBy("doc_id")
      .format("parquet").saveAsTable(table)
    docs.sparkSession.table(table)
  }

  /** ~200k rows per bucket, 8-bucket floor, core-count cap — the
    * shared sidecar sizing rule (bucket count = scan-parallelism
    * ceiling AND file count under autoBucketedScan=false). */
  private def volumeBuckets(df: DataFrame): Int = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    math.max(8, math.min(cores.toLong, df.count() / 200000L).toInt)
  }

  /** Candidate (a, b) pairs of [[ngramJaccard]]'s prefix join —
    * factored out so the filter effectiveness is testable. */
  private[graft] def ngramCandidates(docs: DataFrame, threshold: Double,
                                     ppFilters: Boolean = true): DataFrame =
    ngramCandidatesFromToks(
      docs.select(col("doc_id"), toks(col("text")).as("toks")),
      threshold, ppFilters)

  private[graft] def ngramCandidatesFromToks(tokSets: DataFrame, threshold: Double,
                                             ppFilters: Boolean = true): DataFrame = {
    val tokDf = tokSets.select(col("doc_id"), explode(col("toks")).as("tok"))
    // global document frequency — rarest-first gives the smallest join
    // fan-out; tie-break on the token itself for determinism.
    val dfreq = tokDf.groupBy("tok").agg(count(lit(1)).as("df"))
    val ranked = tokDf.join(dfreq, "tok")
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("tok"))))
      .withColumn("sz", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      // same 1e-9 FP slack as the pp filters below: ceil of an
      // exact-integer product that rounds up an ulp would shrink the
      // prefix by one token; erring one token loose only adds
      // candidates the exact verify rejects
      .filter(col("rnk") <=
        col("sz") - ceil(lit(threshold) * col("sz") - lit(1e-9)) + 1)
      .select(col("doc_id"), col("tok"), col("rnk"), col("sz"))
    val pp =
      if (!ppFilters) lit(true)
      else
        // length filter: min size must reach t * max size. The 1e-9
        // slack absorbs binary-float rounding (0.8*20 can evaluate to
        // 16.000000000000004, whose ceil would over-prune an
        // exact-boundary pair) — erring loose is safe, verify rejects.
        least(col("x.sz"), col("y.sz")) >=
          ceil(lit(threshold) * greatest(col("x.sz"), col("y.sz")) - lit(1e-9)) &&
        // positional filter: tokens after the matching prefix position
        // (plus the match itself) must be able to reach the required
        // overlap ceil(t/(1+t) * (|a|+|b|))
        (lit(1) + least(col("x.sz") - col("x.rnk"), col("y.sz") - col("y.rnk"))) >=
          ceil(lit(threshold / (1.0 + threshold)) * (col("x.sz") + col("y.sz")) - lit(1e-9))
    ranked.as("x").join(ranked.as("y"),
        col("x.tok") === col("y.tok") && col("x.doc_id") < col("y.doc_id") && pp)
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
  }

  /** MinHash signatures: k Kirsch-Mitzenmacher permutations
    * h_i(tok) = md5hi(tok) + i·md5lo(tok) (64-bit wraparound),
    * signature[i] = min over tokens — computed by the native one-pass
    * expression (functions.MinHashSigs): per-document, map-only, fully
    * codegen'd, ONE digest + k multiply-adds per token. The previous
    * explode + k-min-aggregates formulation shuffled every token of
    * the corpus; this shuffles NOTHING (the signature stage of 100 TB
    * dedup becomes embarrassingly parallel). md5-derived so persisted
    * sidecars are engine-re-derivable and dedup_minhash is
    * oracle-checked value-for-value (spec-pinned vs a driver-side
    * reimplementation). */
  def minhashSignatures(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.VectorExpressions.minhashSigs(toks(col("text")), k).as("sig"))

  /** MinHash+LSH near-dup detection with estimated Jaccard (fraction of
    * agreeing signature positions) >= `estThreshold`. Returns
    * (a=representative, b=member, est_jac) pairs.
    *
    * Exact-duplicate collapse FIRST: docs sharing the full signature
    * group directly (one groupBy — linear), and only the distinct-
    * signature representatives enter the banded pair join. Without this
    * a self-similar corpus (many identical shingle sets) makes LSH
    * buckets quadratic: at 10× scale the pair join went 495s -> the
    * grouped version is bounded by distinct-content volume, which is
    * the quantity dedup is shrinking in the first place. */
  def minhashLsh(docs: DataFrame, k: Int = 64, bands: Int = 16,
                 estThreshold: Double = 0.6): DataFrame =
    minhashLshFromSigs(minhashSignatures(docs, k).localCheckpoint(true),
      k, bands, estThreshold)

  /** Signature sidecar written once at ingest: (doc_id, sig) as a
    * catalog table BUCKETED by doc_id — the persisted artifact a
    * cluster deployment co-locates with the corpus. Joins keyed on
    * doc_id over the returned relation (the candidate-verify stage of
    * [[minhashLshFromSigs]]) plan with no Exchange on the signature
    * side: the verify cost at 100 TB is then the candidate pairs, not a
    * corpus reshuffle. Caller is responsible for table lifecycle
    * (graft.sources.Catalog.recreate).
    *
    * `buckets = 0` (default) sizes the count by VOLUME — ~200k docs per
    * bucket, 8-bucket floor, core-count cap — the same rule as the fact
    * log's bucketedDb: under autoBucketedScan=false the bucket count is
    * the scan-parallelism ceiling AND the file count, and a flat 32 on
    * a small corpus is pure small-file overhead (measured: the r8 flat
    * 32 put dedup_minhash at ~1.6 s on the sf0.1 bench; the r7 8-bucket
    * layout ran ~1.05 s — same query code). A corpus big enough to
    * saturate the cores gets one bucket per core. */
  def writeMinHashSidecar(docs: DataFrame, table: String, k: Int = 64,
                          buckets: Int = 0): DataFrame = {
    val nb = if (buckets > 0) buckets else volumeBuckets(docs)
    minhashSignatures(docs, k)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .bucketBy(nb, "doc_id").sortBy("doc_id")
      .format("parquet").saveAsTable(table)
    // the artifact owns its parameters (same discipline as AnnIndex /
    // IvfIndex): persist k so readers can't slice band boundaries with
    // a mismatched signature width
    docs.sparkSession.sql(
      s"ALTER TABLE $table SET TBLPROPERTIES ('graft.minhash.k' = '$k')")
    docs.sparkSession.table(table)
  }

  /** Read a [[writeMinHashSidecar]] table back WITH its persisted
    * signature width: (sigs relation, k). Callers pass the returned k
    * to [[minhashLshFromSigs]] instead of re-supplying their own. */
  def readMinHashSidecar(spark: org.apache.spark.sql.SparkSession,
                         table: String): (DataFrame, Int) = {
    val props = spark.sql(s"SHOW TBLPROPERTIES $table")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val k = props.getOrElse("graft.minhash.k",
      throw new IllegalStateException(
        s"$table has no graft.minhash.k property — not a MinHash sidecar?")).toInt
    (spark.table(table), k)
  }

  /** The LSH + verify pass of [[minhashLsh]] over a precomputed
    * (doc_id, sig) relation — typically the doc_id-bucketed sidecar
    * from [[writeMinHashSidecar]]. */
  def minhashLshFromSigs(sigsIn: DataFrame, k: Int = 64, bands: Int = 16,
                         estThreshold: Double = 0.6): DataFrame = {
    val rows = k / bands
    // Guard against a caller-supplied k that disagrees with the actual
    // signature width (a persisted sidecar read back with the wrong
    // parameter would silently slice wrong band boundaries — wrong
    // recall, no error). Per-row codegen'd check, no extra job.
    val sigs = sigsIn.select(col("doc_id"),
      when(size(col("sig")) === k, col("sig")).otherwise(raise_error(concat(
        lit("minhash signature width "), size(col("sig")).cast("string"),
        lit(s" != k=$k — read the sidecar's own k (readMinHashSidecar)"))))
        .as("sig"))
    // NOT checkpointed (r16): the two consumers (identical-explode,
    // reps) share the groupBy(sig) exchange via runtime reuse — the
    // eager checkpoint was one more blocking job on an already
    // latency-bound 8-stage chain (cf. q_interval_coalesce).
    val groups = sigs.groupBy(col("sig"))
      .agg(min(col("doc_id")).as("rep"), collect_list(col("doc_id")).as("members"))
    val identical = groups.select(col("rep").as("a"),
        explode(col("members")).as("b"), lit(1.0).as("est_jac"))
      .filter(col("a") < col("b"))
    // Star-collapse within each LSH bucket: every member pairs only with
    // the bucket's min-id representative, so candidates are
    // O(docs × bands), never O(bucket²) — the production dedup pattern
    // (one survivor per near-dup cluster), immune to giant clusters.
    val reps = groups.select(col("rep").as("doc_id"), col("sig"))
    val banded = bandKeys(reps, k, bands)
    val bucketRep = banded.groupBy(col("band"), col("bucket"))
      .agg(min(col("doc_id")).as("a"))
    val cands = banded.join(bucketRep, Seq("band", "bucket"))
      .filter(col("doc_id") > col("a"))
      .select(col("a"), col("doc_id").as("b"))
      .distinct()
    val near = cands
      .join(sigs.select(col("doc_id").as("a"), col("sig").as("sa")), "a")
      .join(sigs.select(col("doc_id").as("b"), col("sig").as("sb")), "b")
      .withColumn("est_jac",
        size(filter(zip_with(col("sa"), col("sb"), (x, y) => x === y), bb => bb))
          .cast("double") / k)
      .filter(col("est_jac") >= estThreshold)
      .select(col("a"), col("b"), col("est_jac"))
    identical.unionAll(near)
  }

  /** DEDUP THRESHOLD SWEEP — the datasheet that SIZES a near-dup
    * deployment before committing to a threshold (pairs with
    * corpus_ngram_stats' shingle-df sizing): one MinHash+LSH candidate
    * pass at the LOWEST threshold in `thresholds`, then per threshold
    * the surviving pair count, distinct removable docs (star-collapse
    * member side), and distinct surviving representatives. Running the
    * full dedup once per candidate threshold would pay the
    * signature/banding shuffle T times; the sweep pays it ONCE —
    * est_jac is dyadic (agreements/64, FP-exact both engines) so the
    * per-threshold refilter is free.
    *
    * Scale: candidates are the same star-collapsed O(docs×bands) set
    * as [[minhashLshFromSigs]]; the sweep is a |pairs|×|thresholds|
    * conditional re-count (posexplode of a constant array) aggregating
    * to |thresholds| rows. */
  def minhashSweep(sigs: DataFrame, k: Int = 64, bands: Int = 16,
                   thresholds: Seq[Double] = Seq(0.5, 0.6, 0.7, 0.8, 0.9))
      : DataFrame = {
    val pairs = minhashLshFromSigs(sigs, k, bands, estThreshold = thresholds.min)
    pairs
      .select(col("a"), col("b"), col("est_jac"),
        explode(array(thresholds.map(lit): _*)).as("threshold"))
      .filter(col("est_jac") >= col("threshold"))
      .groupBy(col("threshold"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("b")).as("n_removable"),
        countDistinct(col("a")).as("n_reps"))
  }

  /** LSH band keys over a (doc_id, sig) relation: band b's key is
    * xxhash64 over rows b·(k/bands)..(b+1)·(k/bands) of the signature.
    * ONE definition shared by [[minhashLshFromSigs]] and the streaming
    * near-dup gate (FactStream.ingestNearDedup), so a banding change
    * can never silently strand a durable band sidecar written under
    * the old boundaries. */
  private[graft] def bandKeys(sigs: DataFrame, k: Int, bands: Int): DataFrame = {
    val rows = k / bands
    sigs.select(col("doc_id"),
      posexplode(array((0 until bands).map(b =>
        xxhash64(lit(b) +: (b * rows until (b + 1) * rows).map(i => col("sig")(i)): _*)): _*))
        .as(Seq("band", "bucket")))
  }

  /** The deduplicated corpus: drop every doc appearing as the MEMBER
    * side (`b`) of a near-dup pair, keeping representatives — the
    * consumer step after any of the pair generators here (their star
    * shape makes this the greedy one-survivor-per-cluster policy).
    * One anti-join, no driver-side state.
    *
    * RECALL NOTE for star-collapsed generators (minhashLsh /
    * simhashPairs / embeddingNearDup): each bucket tests members only
    * against the bucket's min-id representative, so two near-dups B and
    * C sharing a bucket whose rep A is far from both produce NO pair —
    * both survive here as undetected duplicates. In particular
    * simhashPairs does NOT inherit the pigeonhole's "all pairs within
    * hamming <= 3" completeness. For strict dedup, iterate: run the
    * generator over the survivors again until no pairs remain (each
    * round removes >= 1 doc per unresolved cluster, so it terminates) —
    * that is [[dedupStrict]]. */
  def keepSurvivors(docs: DataFrame, pairs: DataFrame): DataFrame =
    docs.join(pairs.select(col("b").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")

  /** Strict dedup: iterate a (possibly recall-lossy, star-collapsed)
    * pair `generator` over the survivors to a FIXPOINT — the escape
    * hatch documented on [[keepSurvivors]]. A cluster the single pass
    * leaves unresolved (members B, C near each other but far from their
    * bucket's representative A) resolves once A is itself dropped as a
    * member elsewhere and a later round re-buckets the survivors with B
    * as the new representative. Each non-final round drops at least one
    * document, so the iteration terminates, and a round that drops none
    * is the fixpoint. Round cost is one generator pass over the
    * (shrinking) survivor set; the survivors are a [[Fixpoint.iterate]]
    * state. */
  def dedupStrict(docs: DataFrame, generator: DataFrame => DataFrame,
                  maxRounds: Int = 20): DataFrame =
    Fixpoint.iterate("dedupStrict", Fixpoint.materialize("dedupStrict", docs), maxRounds,
        done = (prev, next) => next.rows == prev.rows) { survivors =>
      keepSurvivors(survivors, generator(survivors))
    }.df

  /** 64-bit SimHash per doc: per-bit +1/-1 votes from each token's
    * md5-derived hash, sign of the vote sum becomes the bit — computed
    * by the native one-pass expression (functions.SimHashSig):
    * map-only, codegen'd, no token explode/shuffle (bit-identical to
    * the 64-sum-aggregates formulation it replaces, spec-pinned).
    * md5 rather than xxhash64 so persisted signature sidecars are
    * re-derivable by ANY engine — and the full dedup_simhash output
    * is oracle-checked value-for-value, not rows-only. */
  def simhashSignatures(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.VectorExpressions.simhashSig(toks(col("text"))).as("simhash"))

  /** SimHash near-dup pairs with hamming distance <= `maxHamming`,
    * star-collapsed (same pattern as minhashLsh): identical signatures
    * group directly (linear), and within each 16-bit pigeonhole block
    * bucket every member pairs only with the bucket's min-id
    * representative. Candidates are O(docs × blocks), never O(block²) —
    * a degenerate block value (short/templated docs hashing alike) can
    * no longer explode the join at scale. The trade (vs all-pairs
    * within a bucket) is the production one: dedup keeps one survivor
    * per cluster, so rep-to-member pairs are what the downstream
    * "drop b, keep a" consumer needs. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    simhashPairsFromSigs(simhashSignatures(docs).localCheckpoint(true), maxHamming)

  /** The pairing pass of [[simhashPairs]] over a precomputed
    * (doc_id, simhash) relation — e.g. a persisted signature sidecar,
    * or the survivor set inside a [[dedupStrict]] round (signatures are
    * content-pure, so re-deriving them per round would waste a corpus
    * pass). */
  def simhashPairsFromSigs(sigs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val groups = sigs.groupBy(col("simhash"))
      .agg(min(col("doc_id")).as("rep"), collect_list(col("doc_id")).as("members"))
      .localCheckpoint(true)
    val identical = groups.select(col("rep").as("a"),
        explode(col("members")).as("b"), lit(0).as("hamming"))
      .filter(col("a") < col("b"))
    val reps = groups.select(col("rep").as("doc_id"), col("simhash"))
    val blocked = reps.select(col("doc_id"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("simhash"), b * 16).bitwiseAND(0xffffL)): _*))
        .as(Seq("blk", "blkval")))
    val bucketRep = blocked.groupBy(col("blk"), col("blkval"))
      .agg(min(col("doc_id")).as("a"))
    val cands = blocked.join(bucketRep, Seq("blk", "blkval"))
      .filter(col("doc_id") > col("a"))
      .select(col("a"), col("doc_id").as("b"))
      .distinct()
    val near = cands
      .join(sigs.select(col("doc_id").as("a"), col("simhash").as("ha")), "a")
      .join(sigs.select(col("doc_id").as("b"), col("simhash").as("hb")), "b")
      .select(col("a"), col("b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
    identical.unionAll(near)
  }

  /** Embedding cosine near-dup: random-hyperplane LSH signature buckets
    * (`planes` sign bits from deterministic pseudo-hyperplanes), exact
    * cosine verify within buckets — star-collapsed: every bucket member
    * verifies only against the bucket's min-id representative, so
    * candidate pairs are O(n), never O(bucket²) (with a constant plane
    * count a bucket holds ≈ n/2^planes vectors — quadratic death at
    * 10^10 rows).
    *
    * `planes <= 0` auto-scales the signature width with corpus size
    * (targeting ~64 vectors per bucket) — the knob a fixed default gets
    * wrong at 1000× the data. Pass `corpusSize` (a known row count —
    * ingest pipelines have it) to skip the EAGER `emb.count()` sizing
    * job that otherwise runs here at plan-build time.
    *
    * Bucketing is MEAN-CENTERED (Similarity.corpusMean — one eager
    * aggregation job at plan build; pass `mean = Some(...)` with a
    * precomputed/pinned model to skip it, `Some(Nil)` for raw signing).
    * On real text embeddings raw sign-LSH megabuckets (65% of docs in
    * one bucket at sf0.1) — here the cost stays O(n) because of the
    * star collapse, but RECALL dies: one bucket's min-id rep stands in
    * for 65% of the corpus, so most near-dup pairs straddle reps and
    * go unseen. Scoring stays on raw vectors. */
  def embeddingNearDup(emb: DataFrame, idCol: String, vecCol: String,
                       threshold: Double, planes: Int = 0,
                       corpusSize: Long = 0L,
                       mean: Option[Seq[Double]] = None): DataFrame = {
    val nPlanes =
      if (planes > 0) planes
      else {
        val n = (if (corpusSize > 0) corpusSize else emb.count()).max(1L)
        math.max(3, math.ceil(math.log(n / 64.0) / math.log(2.0)).toInt)
      }
    val v = col(vecCol)
    val m = mean.getOrElse(graft.pipeline.Similarity.corpusMean(emb, vecCol))
    // deterministic pseudo-random hyperplanes: component j of plane p is
    // a hash-derived value in [-1, 1] — reproducible on any cluster;
    // computed by the native one-pass SignLshSig expression.
    val sig = graft.functions.VectorExpressions.signLsh(v, nPlanes, m)
    val dotFn = graft.functions.VectorExpressions.dot _
    val withSig = emb.select(col(idCol).as("id"), v.as("vec"), sig.as("bucket"))
      .withColumn("nrm", sqrt(dotFn(col("vec"), col("vec"))))
    val bucketRep = withSig.groupBy(col("bucket")).agg(min(col("id")).as("rep"))
    val repVecs = withSig.select(col("id").as("rep"), col("vec").as("rvec"),
      col("nrm").as("rnrm"))
    withSig.join(bucketRep, Seq("bucket"))
      .filter(col("id") > col("rep"))
      .join(repVecs, Seq("rep"))
      .withColumn("cos", dotFn(col("rvec"), col("vec")) / (col("rnrm") * col("nrm")))
      .filter(col("cos") >= threshold)
      .select(col("rep").as("a"), col("id").as("b"), round(col("cos"), 6).as("cos"))
  }

  /** Cross-document duplicated-SPAN coverage — the exact-substring
    * dedup signal (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better") at n-token granularity: every n-token
    * window of every document is hashed, and a window whose text also
    * occurs in at least one OTHER document is a duplicated span. Output
    * per doc: total spans, duplicated spans, duplicated fraction — the
    * gate that drops or trims documents dominated by cross-corpus
    * boilerplate (where whole-doc dedup like [[exact]]/[[ngramJaccard]]
    * sees distinct documents).
    *
    * Scale shape: the exploded position→hash stream is reduced to
    * (sh, doc_id, c) FIRST — ONE shuffle with map-side combine — and
    * both the cross-doc flag and the per-doc rollup ride that reduced
    * relation; the corpus×positions stream itself is never reshuffled.
    * "Appears in ≥ 2 docs" is min(doc_id) ≠ max(doc_id) — partial-
    * aggregatable, no count_distinct re-shuffle. All integer counts
    * stay BIGINT on both engines (no windowed sums — see the SURVEY
    * oracle-divergence table). */
  def duplicatedSpans(docs: DataFrame, n: Int = 8): DataFrame = {
    val tk = split(lower(trim(col("text"))), "\\s+")
    // the explicit non-null id filter matches the isnotnull() the final
    // left-outer join infers on the count branch — with it, BOTH
    // aggregate branches sit on byte-identical scan subtrees, which is
    // what lets AQE reuse the (sh, doc_id) shuffle stage below
    val base = docs.filter(col("doc_id").isNotNull)
      .select(col("doc_id"), tk.as("tk"))
      .filter(size(col("tk")) >= n)
    // NON-distinct with multiplicity — the shared window-hash builder,
    // not shingleHashes' distinct form: a span repeated inside one doc
    // counts every occurrence
    val sp = base.select(col("doc_id"),
      explode(TextAnalysis.shingleHashCol(col("tk"), n)).as("sh"))
    val perDocSh = sp.groupBy(col("sh"), col("doc_id"))
      .agg(count(lit(1)).as("c"))
    // occ >= 2 is IMPLIED by mn != mx (two docs means two occurrences)
    // — it exists so the (sh, doc_id) pre-aggregate is not redundant
    // for this branch: without a live reference to c, column pruning +
    // RemoveRedundantAggregates collapse the rollup into a direct
    // min/max over a SECOND corpus explode (re-scan + re-split +
    // re-md5 of every position); with it, both branches share the
    // byte-identical (sh, doc_id) exchange and AQE reuses the
    // materialized stage — the corpus is exploded and hashed ONCE
    // (spec-pinned on the adaptive plan).
    val cross = perDocSh.groupBy(col("sh"))
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"),
        sum(col("c")).as("occ"))
      .filter(col("mn") =!= col("mx") && col("occ") >= 2)
      .select(col("sh"))
    val dup = perDocSh.join(cross, "sh")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("dup_spans"))
    // ONE output row per doc_id even on a corpus carrying duplicate
    // ids (n_spans summed over the id's rows) — matching the oracle's
    // per-id grouping; a per-INPUT-ROW output would emit two rows with
    // doc-level dup counts against row-level span totals (dup_frac
    // above 1.0) and hash-diverge from the oracle under duplicate ids
    base.select(col("doc_id"), (size(col("tk")) - n + 1).cast("long").as("ns"))
      .groupBy(col("doc_id")).agg(sum(col("ns")).as("n_spans"))
      .join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"),
        round(coalesce(col("dup_spans"), lit(0L)).cast("double") / col("n_spans"), 6)
          .as("dup_frac"))
  }

  /** ASYMMETRIC CONTAINMENT — the quote/inclusion signal symmetric
    * Jaccard cannot see: C(A→B) = |S(A) ∩ S(B)| / |S(A)| over DISTINCT
    * n-token shingles. A short doc fully quoted inside a long one has
    * C(short→long) ≈ 1 while the Jaccard is tiny (the union is the
    * long doc), so the pair never clears a symmetric threshold — this
    * is the containment-dedup step of web-curation pipelines. Output:
    * every ORDERED pair with C ≥ threshold (a = the contained doc).
    *
    * Scale shape: shingles, not unigrams — an n-gram is shared only
    * through real copying, so the (doc, sh) self-join's Σ_sh df(sh)²
    * stays near-linear on organic corpora. The quadratic tail that
    * organic sharing can't produce but TEMPLATED corpora routinely do
    * (one boilerplate 8-gram header in 10⁶ crawl pages → 10¹²
    * candidate pairs BEFORE any filter — output volume AQE's skew
    * split cannot fix) is cut by the `maxDf` document-frequency
    * bound, the Lee et al. 2022 boilerplate discipline: a shingle in
    * more than maxDf docs is template furniture, not copying
    * evidence, and is excluded from BOTH the intersection and the
    * |S(A)| denominator (containment over informative shingles; the
    * oracle applies the identical bound). maxDf=256 is ~64× the
    * organic df ceiling of the test corpus (max df 4 at sf0.1), so
    * capped == uncapped there (spec-pinned), while Σ_sh df² is
    * bounded by #shingles × maxDf². The df filter runs as a window
    * count over the same hash-by-sh exchange the self-join needs —
    * the cap adds no extra shuffle; distinct, df-filter, per-doc
    * sizes and both self-join sides all hang off one exchange
    * subtree (AQE ReusedExchange). */
  def shingleContainment(docs: DataFrame, n: Int = 8,
                         threshold: Double = 0.5, maxDf: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tk = split(lower(trim(col("text"))), "\\s+")
    val sh0 = docs.filter(col("doc_id").isNotNull)
      .select(col("doc_id"), tk.as("tk"))
      .filter(size(col("tk")) >= n)
      .select(col("doc_id"), explode(TextAnalysis.shingleHashCol(col("tk"), n)).as("sh"))
      .distinct()
    // MATERIALIZED once (r16): sh has three consumers (sizes, both
    // self-join sides) and runtime exchange reuse did not cover them —
    // the stage audit showed the tokenize+shingle+distinct pipeline
    // (the expensive half: ~28 s of task time at sf0.1) executing
    // TWICE. Narrow (doc_id, sh) rows, pruned by the df filter;
    // per-invocation temporary, swept by the bench/harness like every
    // localCheckpoint in this module.
    val sh = sh0
      .withColumn("__df", count(lit(1)).over(Window.partitionBy(col("sh"))))
      .filter(col("__df") <= maxDf).drop("__df")
      .localCheckpoint(true)
    val szs = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val pairs = sh.as("x").join(sh.as("y"),
        col("x.sh") === col("y.sh") && col("x.doc_id") =!= col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("inter"))
    pairs.join(szs.select(col("doc_id").as("a"), col("n_sh")), Seq("a"))
      .withColumn("cont", col("inter").cast("double") / col("n_sh"))
      .filter(col("cont") >= threshold)
      .select(col("a"), col("b"), col("inter"), col("n_sh"),
        round(col("cont"), 6).as("containment"))
  }

  /** [[duplicatedSpans]]' completion — the REMOVAL step of exact-
    * substring dedup (Lee et al. 2022 drop duplicated spans, not whole
    * documents): every token covered by any cross-document duplicated
    * n-token window is cut, and the surviving tokens are re-joined.
    * Output one row per INPUT ROW: (doc_id, clean_text, n_removed),
    * clean_text token-normalized (lowercased, single-spaced).
    *
    * Rows are keyed by (doc_id, md5(text)) — not doc_id alone — so a
    * corpus carrying duplicate ids with differing texts never mixes
    * coverage across rows (each row is trimmed against its own span
    * set; identical rows trim identically). Cross-doc means distinct
    * doc_ids, exactly [[duplicatedSpans]]' flag. Scale shape: span
    * stream → flag aggregate (map-side combinable), flag join →
    * position explode (n rows per flagged span) → distinct + per-row
    * coverage set; the reconstruct is a per-row codegen'd higher-order
    * expression, no window, no driver state. */
  def trimDuplicatedSpans(docs: DataFrame, n: Int = 8): DataFrame = {
    // null text normalizes to "" (clean_text '' / 0 removed) — NOT
    // null-out: DuckDB's array_to_string(empty) is NULL where Spark's
    // array_join is '', so a fully-trimmed doc must reconstruct from
    // the same non-null base in both engines (oracle coalesces too)
    val tk = split(lower(trim(coalesce(col("text"), lit("")))), "\\s+")
    val base = docs.filter(col("doc_id").isNotNull)
      .select(col("doc_id"), md5(coalesce(col("text"), lit(""))).as("rk"), tk.as("tk"))
    val sp = base.filter(size(col("tk")) >= n)
      .select(col("doc_id"), col("rk"),
        posexplode(TextAnalysis.shingleHashCol(col("tk"), n)).as(Seq("i", "sh")))
    val cross = sp.groupBy(col("sh"))
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .filter(col("mn") =!= col("mx"))
      .select(col("sh"))
    val cov = sp.join(cross, "sh")
      .select(col("doc_id"), col("rk"),
        explode(sequence(col("i"), col("i") + lit(n - 1))).as("p"))
      .distinct()
      .groupBy(col("doc_id"), col("rk"))
      .agg(sort_array(collect_set(col("p"))).as("cov"))
    base.join(cov, Seq("doc_id", "rk"), "left")
      .withColumn("cov", coalesce(col("cov"), expr("array()")))
      .select(col("doc_id"),
        array_join(expr(
          """transform(filter(sequence(0, size(tk) - 1),
                              j -> NOT array_contains(cov, j)),
                       j -> element_at(tk, cast(j + 1 as int)))"""), " ")
          .as("clean_text"),
        size(col("cov")).cast("long").as("n_removed"))
  }

  /** SemDeDup-style SEMANTIC dedup (Abbas et al. 2023,
    * arXiv:2303.09540): deterministic k-means partitions the embedding
    * corpus; near-duplicate candidates are sought only WITHIN a
    * cluster — the scale bound that replaces the corpus² cross product
    * with Σ|cell|² (cells are quasi-uniform under k-means, and a
    * production run caps cell size by raising k). In-cluster pairs
    * with cosine ≥ minCos form duplicate groups (connected components
    * over the pair graph — transitive closure, like the n-gram cluster
    * map); keep = min id per group (the paper keeps the member closest
    * to the centroid; min-id is the deterministic policy the rest of
    * the dedup family uses, and the grouping is identical).
    * Returns (id, group, keep). */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
                    k: Int, minCos: Double, iters: Int = 3): DataFrame = {
    implicit val spark = emb.sparkSession
    val assigned = Quantize.kmeansAssign(emb, idCol, vecCol, dim, k, iters)
      .select(col("id"), col("vec"), col("cluster"))
    val pairs = assigned.as("a").join(assigned.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.id") < col("b.id"))
      .filter(Similarity.cosine(col("a.vec"), col("b.vec")) >= minCos)
      .select(col("a.id").as("src"), col("b.id").as("dst"))
    val comps = graft.graph.GraphOps.ccDataFrame(pairs)
      .select(col("node").as("id"), col("component"))
    assigned.select(col("id")).join(comps, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("group"),
        (col("id") === coalesce(col("component"), col("id"))).as("keep"))
  }
}

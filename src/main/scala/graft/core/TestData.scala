package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, LongType, TimestampNTZType, TimestampType}

/** Ingestion of the driver's TPC-H-ish parquet tables into the EAV fact
  * log (SURVEY.md §5). Entity-id spaces are disjoint per table (base
  * offsets); foreign keys double as `_ref` edge attributes so the same
  * facts serve relational joins AND graph traversal. Base tables load
  * at tx=1; the `events` table replays as a temporal fact stream
  * (tx = TxBase + event_id) to exercise as-of / historical / retraction
  * semantics the way the reference's transactor would have produced them.
  */
object TestData {
  val RegionBase = 1000000000L
  val NationBase = 2000000000L
  val CustomerBase = 3000000000L
  val SupplierBase = 4000000000L
  val PartBase = 5000000000L
  val OrdersBase = 6000000000L
  val LineitemBase = 7000000000L
  val UserBase = 8000000000L
  val DocBase = 9000000000L
  val TxBase = 100L

  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Schema-adaptive epoch-nanos for a timestamp-ish column. The test
    * data has shipped `events.ts` in different physical parquet
    * encodings across regenerations — INT64 TIMESTAMP(NANOS) (read as
    * a raw long under spark.sql.legacy.parquet.nanosAsLong),
    * timestamp[us] (read as TIMESTAMP_NTZ), with-tz TIMESTAMP — so
    * never assume one encoding; branch on the type Spark actually
    * inferred. The NTZ→TIMESTAMP cast is value-preserving only
    * because every entry point pins spark.sql.session.timeZone=UTC,
    * which makes the naive instant map to the same epoch DuckDB's
    * epoch_us(ts) computes on the oracle side. */
  def tsNs(df: DataFrame, c: String = "ts"): Column = df.schema(c).dataType match {
    case LongType => col(c) // INT64 TIMESTAMP(NANOS) as raw epoch-nanos
    case TimestampNTZType | TimestampType =>
      expr(s"unix_micros(cast(`$c` as timestamp)) * 1000")
    case DateType => expr(s"unix_micros(cast(`$c` as timestamp)) * 1000")
    case other =>
      throw new IllegalStateException(s"unsupported encoding for `$c`: $other")
  }

  /** The events table with a normalized `ts_ns` epoch-nanos column —
    * the single loader every events-consuming query goes through. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = read(spark, dir, "events")
    raw.withColumn("ts_ns", tsNs(raw))
  }

  private case class T(name: String, id: String, base: Long, refs: Map[String, Long])

  private val tables = Seq(
    T("region", "r_regionkey", RegionBase, Map.empty),
    T("nation", "n_nationkey", NationBase, Map("n_regionkey" -> RegionBase)),
    T("customer", "c_custkey", CustomerBase, Map("c_nationkey" -> NationBase)),
    T("supplier", "s_suppkey", SupplierBase, Map("s_nationkey" -> NationBase)),
    T("part", "p_partkey", PartBase, Map.empty),
    T("orders", "o_orderkey", OrdersBase, Map("o_custkey" -> CustomerBase)),
    T("documents", "doc_id", DocBase, Map.empty)
  )

  // Memoized + persisted per (session, dir): the datalog query set
  // re-reads the same fact log dozens of times per run; caching it in
  // columnar form (MEMORY_AND_DISK) turns every pattern scan into an
  // in-memory batch scan with stats-based pruning on the `a` column.
  private val dbCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), FactDb]

  /** Columnar-cache RDD ids backing LIVE dbCache entries for this
    * session. Harnesses that sweep persistent RDDs between queries
    * ([[sweepUnprotectedRdds]]) must SPARE these alongside
    * Compiler.protectedRddIds: a swept `.persist` keeps its lineage, so
    * nothing FAILS — every later datalog/graph query silently re-pays the
    * 40-branch melt + RDD round-trip inside its own (timed) run instead
    * (the r13 dl_asof 2.67× bench regression). Recomputed per call: a
    * re-materialized cache (blocks lost, InMemoryRelation rebuilt)
    * changes the buffer RDD id, and a stale snapshot would protect the
    * wrong id. */
  def protectedRddIds(spark: SparkSession): Set[Int] =
    dbCache.collect { case ((s, _, _), db) if s eq spark =>
      org.apache.spark.sql.graft.Bridge.cachedRddIds(db.log)
    }.flatten.toSet

  /** Unpersist every persistent RDD of the session except the two
    * bounded session artifacts a between-queries sweep must spare:
    * [[graft.datalog.Compiler.protectedRddIds]] (the fixpoint cache)
    * and [[protectedRddIds]] (the melted fact logs). */
  def sweepUnprotectedRdds(spark: SparkSession, blocking: Boolean): Unit = {
    val keep = graft.datalog.Compiler.protectedRddIds(spark) ++ protectedRddIds(spark)
    spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => keep(id) }
      .values.foreach(_.unpersist(blocking))
  }

  /** Materialize a fact log with a TRUNCATED logical plan: the melted
    * 40-branch union otherwise makes Catalyst hit its 100-iteration
    * cap on every downstream query. Serialized storage (not
    * localCheckpoint's deserialized default) keeps the resident set
    * ~4× smaller and spills to disk gracefully. */
  private def materialize(db: FactDb): FactDb = {
    val spark = db.log.sparkSession
    // RDD round-trip truncates the plan to a LogicalRDD; the persist on
    // top is COLUMNAR (compressed, stats-pruned, fast repeated scans).
    val flat = spark.createDataFrame(db.log.rdd, FactStore.factSchema)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    flat.count() // materialize once
    db.copy(log = flat)
  }

  /** Facts for the static star-schema tables (tx=1). */
  def staticDb(spark: SparkSession, dir: String): FactDb =
    dbCache.getOrElseUpdate((spark, dir, "static"),
      materialize(buildStaticDb(spark, dir)))

  private def buildStaticDb(spark: SparkSession, dir: String): FactDb = {
    val parts = tables.map { t =>
      val df = read(spark, dir, t.name)
      (FactStore.melt(df, col(t.id), t.base, 1L, t.refs),
        FactStore.attrTypes(df, t.refs.keySet))
    }
    // lineitem has NO unique key in the driver's synthetic data (dup
    // (orderkey, linenumber) pairs) — use the parquet row position as a
    // deterministic scan-local entity id. At multi-file scale this
    // becomes hash(file_path)<<32 | row_index: still deterministic, no
    // global coordination.
    val li = read(spark, dir, "lineitem")
      .select(col("*"), col("_metadata.row_index").as("__rowid"))
    val liId = col("__rowid")
    val liRefs = Map("l_orderkey" -> OrdersBase, "l_partkey" -> PartBase,
      "l_suppkey" -> SupplierBase)
    val all = parts.map(_._1) :+ FactStore.melt(li, liId, LineitemBase, 1L, liRefs)
    val types = parts.map(_._2).reduce(_ ++ _) ++ FactStore.attrTypes(li, liRefs.keySet)
    FactDb(all.reduce(_ unionAll _), types, versioned = false)
  }

  /** Temporal replay of `events` as user-entity facts, mirroring what
    * the reference transactor emits (/root/reference/src/unifydb/transact.clj):
    *  - every event asserts cardinality-one `last_value` / `last_type`
    *    (later tx supersedes — the dl_card_one / dl_asof surface);
    *  - `signup` asserts `active`=1, `error` RETRACTS `active`=1
    *    (the dl_retract / dl_historical surface);
    *  - `purchase` asserts cardinality-many `purchase_bucket` =
    *    floor(value) (the dl_card_many surface).
    */
  def eventsDb(spark: SparkSession, dir: String): FactDb =
    dbCache.getOrElseUpdate((spark, dir, "events"),
      materialize(buildEventsDb(spark, dir)))

  private def buildEventsDb(spark: SparkSession, dir: String): FactDb = {
    val ev = read(spark, dir, "events")
    val e = col("user_id") + lit(UserBase)
    val tx = col("event_id") + lit(TxBase)
    val active = FactStore.facts(ev.filter(col("event_type").isin("signup", "error")),
      e, "active", "vlong", lit(1L), tx, added = col("event_type") === "signup")
    val purchases = FactStore.facts(ev.filter(col("event_type") === "purchase"),
      e, "purchase_bucket", "vlong", floor(col("value")), tx)
    FactDb(graft.streaming.FactStream.eventFacts(ev, UserBase, TxBase)
        .unionAll(active).unionAll(purchases),
      Map("last_value" -> "vdbl", "last_type" -> "vstr", "active" -> "vlong",
        "purchase_bucket" -> "vlong"),
      cardMany = Set("purchase_bucket"))
  }
}

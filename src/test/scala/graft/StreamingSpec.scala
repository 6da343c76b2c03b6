package graft

import graft.streaming.FactStream
import graft.streaming.FactStream.{UserEvent, UserLatest}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  /** Append a per-batch wall-time record to target/STREAM_LATENCY.jsonl
    * (a build output, never a tracked file) — one line per run per
    * suite, so sidecar-publishing streams get a latency trendline
    * (scale_report's --stream-latency folds in the last line per suite). */
  private def recordLatency(suite: String, b0: Double, b1: Double): Unit =
    try {
      val line =
        f"""{"suite":"$suite","b0_sec":$b0%.3f,"b1_sec":$b1%.3f,"utc":"${java.time.Instant.now}"}%n"""
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
      java.nio.file.Files.write(java.nio.file.Paths.get("target", "STREAM_LATENCY.jsonl"),
        line.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } catch { case scala.util.control.NonFatal(_) => () }

  test("streaming fact ingestion: latest-per-user state (card-one, incremental)") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[UserEvent]
    val q = FactStream.latestPerUser(input.toDS())
      .writeStream.format("memory").queryName("latest").outputMode("update").start()
    input.addData(UserEvent(1, 10, 1.0), UserEvent(1, 11, 2.0), UserEvent(2, 12, 7.0))
    q.processAllAvailable()
    input.addData(UserEvent(1, 13, 3.5))
    q.processAllAvailable()
    val out = spark.table("latest").as[UserLatest].collect()
      .groupBy(_.user_id).map { case (k, v) => k -> v.maxBy(_.n_events) }
    assert(out(1L).last_value === 3.5 && out(1L).n_events === 3L)
    assert(out(2L).last_value === 7.0)
    q.stop()
  }

  test("stream_cdc: streamed latest-change state merges identically to the batch CDC") {
    import graft.operators.CdcMerge
    import graft.streaming.FactStream.CdcChange
    implicit val sql = spark.sqlContext
    val input = MemoryStream[CdcChange]
    val q = FactStream.cdcLatest(input.toDS())
      .writeStream.format("memory").queryName("cdc").outputMode("update").start()
    val batch1 = Seq(
      CdcChange(1, "U", 10.0, 100, 1), CdcChange(2, "U", 20.0, 101, 2),
      CdcChange(3, "D", 0.0, 102, 3), CdcChange(9, "U", 90.0, 103, 4))
    val batch2 = Seq(
      CdcChange(1, "D", 0.0, 200, 5),   // later delete overrides the upsert
      CdcChange(2, "U", 25.0, 90, 6),   // EARLIER than batch1's → must lose
      CdcChange(3, "U", 33.0, 201, 7))  // resurrects the deleted key
    input.addData(batch1: _*); q.processAllAvailable()
    input.addData(batch2: _*); q.processAllAvailable()
    q.stop()
    // final streamed winner per key (memory sink accumulates updates)
    val streamedLatest = spark.table("cdc").as[CdcChange]
      .collect().groupBy(_.user_id)
      .map { case (_, v) => v.maxBy(c => (c.ts_us, c.event_id)) }
      .toSeq.toDS().toDF()
      .select(col("user_id"), col("op"), col("new_bal"))
    val base = Seq((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0)).toDF("user_id", "bal")
    val viaStream = CdcMerge.applyLatest(base, streamedLatest)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    val allChanges = (batch1 ++ batch2).toDF()
    val viaBatch = CdcMerge.applyLatest(base, CdcMerge.latestPerKey(allChanges))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(viaStream === viaBatch)
    // and the semantics are right: 1 deleted, 2 keeps batch1's 20.0,
    // 3 resurrected at 33.0, 4 kept, 9 inserted
    assert(viaBatch === Set((2L, 20.0, "updated"), (3L, 33.0, "updated"),
      (4L, 4.0, "kept"), (9L, 90.0, "inserted")))
  }

  test("stream_funnel: delta-scoped recompute is exact under out-of-order arrival") {
    import graft.operators.Funnel
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("funnel").toString
    val input = MemoryStream[(Long, String, Long)]
    val events = input.toDF().toDF("user_id", "event_type", "ts_us")
    val q = FactStream.ingestFunnel(events, s"$dir/state", s"$dir/ckpt")
    // batch 1: user 1's click arrives BEFORE its signup exists; user 2
    // completes signup+click; user 3 signs up (then never reappears)
    input.addData((1L, "click", 20L), (2L, "signup", 10L), (2L, "click", 15L),
      (3L, "signup", 7L))
    q.processAllAvailable()
    // batch 2: user 1's signup arrives LATE (must re-qualify the click
    // already on file); user 2's purchase@12 predates its click -> no
    input.addData((1L, "signup", 5L), (2L, "purchase", 12L))
    q.processAllAvailable()
    // batch 3: user 2 finally purchases after the click
    input.addData((2L, "purchase", 30L))
    q.processAllAvailable()
    q.stop()
    def ptr = {
      val src = scala.io.Source.fromFile(s"$dir/state/_latest")
      try src.mkString.trim finally src.close()
    }
    val streamed = spark.read.parquet(s"$dir/state/$ptr")
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)),
        Option(r.get(3)), r.getInt(4))).toSet
    val allEvents = Seq((1L, "click", 20L), (2L, "signup", 10L), (2L, "click", 15L),
      (3L, "signup", 7L), (1L, "signup", 5L), (2L, "purchase", 12L),
      (2L, "purchase", 30L)).toDF("user_id", "event_type", "ts_us")
    val batch = Funnel.stages(allEvents, Seq("signup", "click", "purchase"))
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)),
        Option(r.get(3)), r.getInt(4))).toSet
    assert(streamed === batch)
    // and the semantics: late signup re-qualified user 1's click;
    // user 3's untouched row survived the upserts
    assert(batch.exists(t => t._1 == 1L && t._3.contains(20L) && t._5 == 2))
    assert(batch.exists(t => t._1 == 3L && t._5 == 1))
    assert(batch.exists(t => t._1 == 2L && t._4.contains(30L) && t._5 == 3))
  }

  test("stream_scd2: a late change splits an interval already on file; matches batch") {
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("scd2").toString
    val input = MemoryStream[(Long, Double, Long, Long)]
    val changes = input.toDF().toDF("user_id", "value", "ts_us", "event_id")
    val q = FactStream.ingestScd2(changes, s"$dir/state", s"$dir/ckpt")
    // batch 1: user 1 has changes at t=10 and t=30 → [10,30) and [30,∞)
    input.addData((1L, 1.0, 10L, 1L), (1L, 3.0, 30L, 2L), (2L, 9.0, 5L, 3L))
    q.processAllAvailable()
    // batch 2: a LATE change at t=20 must split [10,30) into [10,20)+[20,30)
    input.addData((1L, 2.0, 20L, 4L))
    q.processAllAvailable()
    q.stop()
    val ptr = {
      val src = scala.io.Source.fromFile(s"$dir/state/_latest")
      try src.mkString.trim finally src.close()
    }
    val streamed = spark.read.parquet(s"$dir/state/$ptr")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        Option(r.get(3)).map(_.toString.toLong), r.getBoolean(4))).toSet
    assert(streamed === Set(
      (1L, 1.0, 10L, Some(20L), false),
      (1L, 2.0, 20L, Some(30L), false),
      (1L, 3.0, 30L, None, true),
      (2L, 9.0, 5L, None, true)))
  }

  test("stream_drift: streamed cells + driftShares == batch snapshotDrift") {
    import graft.pipeline.TextAnalysis
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    val docs = input.toDF().toDF("doc_id", "text", "source")
    val q = FactStream.driftStream(docs)
      .writeStream.format("memory").queryName("drift").outputMode("complete").start()
    val b1 = (0 until 60).map(i => (i.toLong, ("w " * (4 + i % 5)).trim, s"s${i % 3}"))
    val b2 = (60 until 140).map(i => (i.toLong, ("v " * (3 + i % 7)).trim, s"s${i % 3}"))
    input.addData(b1: _*); q.processAllAvailable()
    input.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val streamedCells = spark.table("drift")
    val viaStream = TextAnalysis.driftShares(streamedCells)
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    val viaBatch = TextAnalysis.snapshotDrift((b1 ++ b2).toDF("doc_id", "text", "source"))
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    assert(viaStream === viaBatch)
    assert(viaStream.keySet === Set("s0", "s1", "s2"))
  }

  test("stream_kcenter: merge-and-reduce coreset covers clusters split across batches") {
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("kc").toString
    def v(axis: Int, eps: Double): Seq[Double] = {
      val a = Array.fill(6)(0.0); a(axis) = 10.0; a((axis + 1) % 6) = eps; a.toSeq
    }
    val input = MemoryStream[(Long, Seq[Double])]
    val emb = input.toDF().toDF("id", "vec")
    val q = FactStream.ingestKCenter(emb, s"$dir/state", s"$dir/ckpt", k = 3)
    // batch 1 carries clusters 0 and 2; cluster 4 only arrives in batch 2
    input.addData((1L, v(0, 0.0)), (2L, v(0, 0.1)), (10L, v(2, 0.0)))
    q.processAllAvailable()
    input.addData((20L, v(4, 0.0)), (21L, v(4, 0.1)), (3L, v(0, 0.2)))
    q.processAllAvailable()
    q.stop()
    val ptr = {
      val src = scala.io.Source.fromFile(s"$dir/state/_latest")
      try src.mkString.trim finally src.close()
    }
    val centers = spark.read.parquet(s"$dir/state/$ptr")
      .collect().map(_.getLong(0)).toSet
    // one exemplar per cluster, across the batch boundary
    assert(centers.map(_ / 10) === Set(0L, 1L, 2L), s"centers: $centers")
  }

  test("stream_retention: a late event re-bases the user's cohort offsets") {
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ret").toString
    val input = MemoryStream[(Long, Long)]
    val events = input.toDF().toDF("user_id", "day")
    val q = FactStream.ingestRetention(events, s"$dir/state", s"$dir/ckpt")
    input.addData((1L, 10L), (1L, 12L), (2L, 11L))
    q.processAllAvailable()
    // user 1's LATE day-5 event shifts their cohort from 10 to 5,
    // re-basing the offsets they already contributed (0,2 -> 5,7)
    input.addData((1L, 5L), (3L, 20L))
    q.processAllAvailable()
    q.stop()
    val ptr = {
      val src = scala.io.Source.fromFile(s"$dir/state/_latest")
      try src.mkString.trim finally src.close()
    }
    val rows = spark.read.parquet(s"$dir/state/$ptr")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows === Set(
      (1L, 5L, 0L), (1L, 5L, 5L), (1L, 5L, 7L),
      (2L, 11L, 0L), (3L, 20L, 0L)))
  }

  test("stream_heavy: merged live sketch retains heavies; exact verify matches batch") {
    import graft.pipeline.TextAnalysis
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("mg").toString
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val q = FactStream.ingestHeavyHitters(docs, s"$dir/state", s"$dir/ckpt", k = 8)
    // heavy tokens split ACROSS batches (neither batch alone is decisive)
    val b1 = (0 until 300).map(i => (i.toLong, "alpha")) ++
      (300 until 600).map(i => (i.toLong, s"tail${i}a tail${i}b"))
    val b2 = (600 until 900).map(i => (i.toLong, "alpha beta")) ++
      (900 until 1100).map(i => (i.toLong, "beta")) ++
      (1100 until 1400).map(i => (i.toLong, s"tl${i}a tl${i}b"))
    input.addData(b1: _*); q.processAllAvailable()
    input.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val ptr = {
      val src = scala.io.Source.fromFile(s"$dir/state/_latest")
      try src.mkString.trim finally src.close()
    }
    val rows = spark.read.parquet(s"$dir/state/$ptr").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // totals: alpha 600, beta 500, N = 600+500+600+600 = 2300; N/9 ≈ 255
    assert(rows("__total__") === 2300L)
    assert(rows.contains("alpha") && rows.contains("beta"),
      s"retention guarantee violated: $rows")
    // candidates from the LIVE sketch + exact verify over the full
    // corpus == the batch operator end-to-end
    val allDocs = (b1 ++ b2).toDF("doc_id", "text")
    val candidates = rows.keys.filter(_ != "__total__").toSeq
    val n = 2300L
    val viaStream = allDocs
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
      .filter(col("tok").isin(candidates: _*))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * 9 > n)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val viaBatch = TextAnalysis.heavyHitters(allDocs, k = 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaStream === viaBatch)
    assert(viaBatch === Map("alpha" -> 600L, "beta" -> 500L))
  }

  test("windowed counts over a watermarked stream") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val events = input.toDF().toDF("ts", "event_type")
    val q = FactStream.windowedCounts(events, watermark = "0 seconds",
        win = "1 hour", slide = "1 hour")
      .writeStream.format("memory").queryName("wins").outputMode("complete").start()
    def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    input.addData((t(0, 10), "click"), (t(0, 50), "click"), (t(1, 10), "view"))
    q.processAllAvailable()
    val rows = spark.table("wins").collect()
      .map(r => (r.getString(1), r.getLong(2))).toSet
    assert(rows === Set(("click", 2L), ("view", 1L)))
    q.stop()
  }

  test("stream_session: gap sessions merge across micro-batches, emit once closed, match batch") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val events = input.toDF().toDF("ts", "user_id")
    val q = FactStream.sessionCounts(events, gap = "10 minutes", watermark = "0 seconds")
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    input.addData((t(0), 1L), (t(5), 1L), (t(8), 1L), (t(2), 2L))
    q.processAllAvailable()
    input.addData((t(40), 1L)) // watermark -> 40: closes both early sessions
    q.processAllAvailable()
    // t(44) extends user 1's open session ACROSS the batch boundary;
    // t(59) pushes the watermark past its close
    input.addData((t(44), 1L), (t(59), 2L))
    q.processAllAvailable()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getTimestamp(1).toString, r.getTimestamp(2).toString, r.getLong(3))
    val streamed = spark.table("sess").collect().map(key).toSet
    assert(streamed === Set(
      (1L, "2024-01-01 00:00:00.0", "2024-01-01 00:18:00.0", 3L),
      (2L, "2024-01-01 00:02:00.0", "2024-01-01 00:12:00.0", 1L),
      (1L, "2024-01-01 00:40:00.0", "2024-01-01 00:54:00.0", 2L)))
    q.stop()
    // batch parity: the same function over the full batch frame yields
    // the streamed sessions plus only the one never-closed tail session
    val batch = Seq(t(0) -> 1L, t(5) -> 1L, t(8) -> 1L, t(2) -> 2L,
      t(40) -> 1L, t(44) -> 1L, t(59) -> 2L).toDF("ts", "user_id")
    val batchRows = FactStream.sessionCounts(batch, gap = "10 minutes").collect().map(key).toSet
    assert(batchRows === streamed +
      ((2L, "2024-01-01 00:59:00.0", "2024-01-01 01:09:00.0", 1L)))
  }

  test("streaming exact dedup emits only first-seen content, state bounded by watermark") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val docs = input.toDF().toDF("ts", "doc_id", "text")
    val q = FactStream.dedupStream(docs, watermark = "10 minutes")
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    input.addData(
      (t(1), 1L, "the quick brown fox"),
      (t(2), 2L, "THE  quick   brown fox"), // normalizes to doc 1's content
      (t(3), 3L, "something else entirely"))
    q.processAllAvailable()
    input.addData((t(4), 4L, "the quick brown fox")) // still within watermark
    q.processAllAvailable()
    val out = spark.table("dedup").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out === Set(1L, 3L))
    q.stop()
  }

  test("stream_join: interval join buffers bounded state, matches the batch interval join") {
    implicit val sql = spark.sqlContext
    val views = MemoryStream[(java.sql.Timestamp, Long, String)]
    val buys = MemoryStream[(java.sql.Timestamp, Long, String)]
    def evts(m: MemoryStream[(java.sql.Timestamp, Long, String)]) =
      m.toDF().toDF("ts", "user_id", "event_type")
    val q = FactStream.intervalJoin(evts(views), evts(buys), withinSec = 600,
        watermark = "0 seconds")
      .writeStream.format("memory").queryName("attrib").outputMode("append").start()
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    views.addData((t(0), 1L, "view_a"), (t(2), 2L, "view_b"))
    buys.addData((t(5), 1L, "buy_a")) // within 10 min of user 1's view
    q.processAllAvailable()
    // cross-batch: a later purchase still inside user 2's window, plus
    // one OUTSIDE user 1's window (t(0)+10min < t(15)) — must not match
    buys.addData((t(9), 2L, "buy_b"), (t(15), 1L, "buy_late"))
    q.processAllAvailable()
    val got = spark.table("attrib")
      .select("user_id", "l_type", "r_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(got === Set((1L, "view_a", "buy_a"), (2L, "view_b", "buy_b")))
    q.stop()
    // batch parity: the same function over batch frames
    val bv = Seq((t(0), 1L, "view_a"), (t(2), 2L, "view_b")).toDF("ts", "user_id", "event_type")
    val bb = Seq((t(5), 1L, "buy_a"), (t(9), 2L, "buy_b"), (t(15), 1L, "buy_late"))
      .toDF("ts", "user_id", "event_type")
    val batch = FactStream.intervalJoin(bv, bb, withinSec = 600)
      .select("user_id", "l_type", "r_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(batch === got)
  }

  test("stream_enrich: per-batch fact-log snapshot join sees facts transacted between batches") {
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-enrich").toString
    val conn = graft.Graft.open(spark)
    import graft.transact.Transactor.Add
    import graft.core.FactDb
    def publishLog(): Unit = graft.sources.FactLogIO.write(
      FactDb(conn.db.log, Map("segment" -> "vstr"), Set.empty, versioned = true),
      s"$dir/log")
    // entity 107 = user 7 with segment "bronze" at tx 1
    conn.transact(Seq(Add(107L, "segment", "bronze")))
    publishLog()
    val input = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val events = input.toDF().toDF("event_id", "ts", "user_id")
    val q = FactStream.enrichWithFactLog(events, s"$dir/log", "segment",
      userBase = 100L, outPath = s"$dir/out", checkpoint = s"$dir/ckpt")
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    input.addData((1L, t(1), 7L))
    q.processAllAvailable()
    // segment changes BETWEEN batches; the next batch must see gold
    conn.transact(Seq(Add(107L, "segment", "gold")))
    publishLog()
    input.addData((2L, t(2), 7L))
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(s"$dir/out")
      .select("event_id", "segment_str").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "bronze", 2L -> "gold"))
    // time-travel pin: the SAME stream enriched asOf tx 1 must see
    // bronze for every batch, even though HEAD says gold
    val input2 = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val q2 = FactStream.enrichWithFactLog(
      input2.toDF().toDF("event_id", "ts", "user_id"), s"$dir/log", "segment",
      userBase = 100L, outPath = s"$dir/out2", checkpoint = s"$dir/ckpt2",
      asOfTx = 1L)
    input2.addData((3L, t(3), 7L))
    q2.processAllAvailable()
    q2.stop()
    val pinned = spark.read.parquet(s"$dir/out2")
      .select("event_id", "segment_str").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pinned === Map(3L -> "bronze"))
  }

  test("stream_closure: reachability closure maintained incrementally per micro-batch") {
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-closure").toString
    val input = MemoryStream[(Long, Long)]
    val edges = input.toDF().toDF("src", "dst")
    val q = FactStream.ingestEdgesWithClosure(edges, s"$dir/closure", s"$dir/ckpt")
    input.addData((1L, 2L), (2L, 3L))
    q.processAllAvailable()
    def published(): Set[(Long, Long)] = {
      val v = scala.io.Source.fromFile(
        new java.io.File(s"$dir/closure/_latest")).mkString.trim
      spark.read.parquet(s"$dir/closure/$v").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(published() === Set((1L, 2L), (2L, 3L), (1L, 3L)))
    // batch 2 bridges new nodes through the OLD closure
    input.addData((3L, 4L))
    q.processAllAvailable()
    q.stop()
    assert(published() === Set((1L, 2L), (2L, 3L), (1L, 3L),
      (3L, 4L), (2L, 4L), (1L, 4L)))
  }

  test("streaming ingestion lands in the durable fact-log layout and is queryable") {
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-log").toString
    val input = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val events = input.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val facts = FactStream.eventFacts(events, userBase = 100L, txBase = 0L)
    val q = FactStream.writeFactLog(facts, dir, s"$dir/ckpt")
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    input.addData((1L, t(1), 7L, "click", 1.5))
    q.processAllAvailable()
    input.addData((2L, t(2), 7L, "purchase", 9.0)) // second micro-batch: new files
    q.processAllAvailable()
    q.stop()
    graft.sources.FactLogIO.writeMeta(spark, dir,
      Map("last_value" -> "vdbl", "last_type" -> "vstr"), Set.empty, versioned = true)
    val db = graft.sources.FactLogIO.read(spark, dir)
    // snapshot resolves across micro-batch file boundaries: latest wins
    val latest = db.snapshot().filter(col("a") === "last_value")
      .select("e", "vdbl").collect()
    assert(latest.toSeq.map(r => (r.getLong(0), r.getDouble(1))) === Seq((107L, 9.0)))
  }

  test("continuous ingestion with periodic compaction keeps snapshots correct") {
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-ingest-compact").toString
    val input = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val events = input.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val facts = FactStream.eventFacts(events, userBase = 0L, txBase = 0L)
    val q = FactStream.ingestWithCompaction(facts, dir, s"$dir/ckpt",
      attrTypes = Map("last_value" -> "vdbl", "last_type" -> "vstr"),
      compactEvery = 2)
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    input.addData((1L, t(1), 7L, "click", 1.0))    // batch 0: append only
    q.processAllAvailable()
    input.addData((2L, t(2), 7L, "view", 2.0))     // batch 1: append + compact
    q.processAllAvailable()
    input.addData((3L, t(3), 7L, "purchase", 9.0)) // batch 2: tail past the base
    q.processAllAvailable()
    q.stop()
    assert(new java.io.File(s"$dir/base").exists(), "base segment written")
    val db = graft.sources.FactLogIO.read(spark, dir)
    val compacted = graft.sources.FactLogIO.withSnapshotBase(spark, dir, db)
    // latest-wins across base + tail: tx 3 (purchase, 9.0) supersedes
    val latest = compacted.snapshot().filter(col("a") === "last_value")
      .select("vdbl").collect().map(_.getDouble(0)).toSeq
    assert(latest === Seq(9.0))
    // and matches a full-log resolution
    assert(db.snapshot().filter(col("a") === "last_value")
      .select("vdbl").head().getDouble(0) === 9.0)
  }

  test("streaming ANN maintenance: refreshed sidecar serves newly ingested neighbors") {
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-refresh").toString
    val input = MemoryStream[(Long, Seq[Double])]
    val emb = input.toDF().toDF("id", "vec")
    val q = FactStream.ingestEmbeddingsWithAnnRefresh(emb, dir, s"$dir/ckpt",
      planes = 4, refreshEvery = 2)
    def v(seed: Int) = (0 until 8).map(j => math.sin(seed * 31.0 + j * 7.0))
    def timed(data: (Long, Seq[Double])*): Double = {
      val t0 = System.nanoTime()
      input.addData(data: _*); q.processAllAvailable()
      (System.nanoTime() - t0) / 1e9
    }
    // batch 0: a background corpus far from the probe direction
    // batch 1 (refresh tick): ingest the probe's true nearest neighbor —
    // a tiny perturbation of v(9), plus more background
    val neighbor = v(9).map(_ + 1e-6)
    val t0s = timed((1L, v(1)), (2L, v(2)), (3L, v(3)))
    val t1s = timed((42L, neighbor), (4L, v(4)))
    recordLatency("stream_ann_refresh", t0s, t1s)
    q.stop()
    val index = graft.pipeline.Similarity.readAnnIndex(spark, s"$dir/ann")
    assert(index.planes === 4)
    assert(index.assigned.count() === 5) // both micro-batches indexed
    val top = graft.pipeline.Similarity.annTopKIndexed(index, v(9), k = 1)
      .collect().map(_.getLong(0)).toSeq
    assert(top === Seq(42L), s"expected the freshly ingested neighbor, got $top")
  }

  test("incremental ANN refresh signs only the new batches and equals a full rebuild") {
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-incr").toString
    val input = MemoryStream[(Long, Seq[Double])]
    val emb = input.toDF().toDF("id", "vec")
    val q = FactStream.ingestEmbeddingsWithAnnRefresh(emb, dir, s"$dir/ckpt",
      planes = 4, refreshEvery = 2)
    def v(seed: Int) = (0 until 8).map(j => math.sin(seed * 31.0 + j * 7.0))
    // batches 0+1: a large bootstrap corpus — the first refresh (batch 1)
    // is the full-rebuild path over all 500 rows
    input.addData((0 until 400).map(i => (i.toLong, v(i))))
    q.processAllAvailable()
    input.addData((400 until 500).map(i => (i.toLong, v(i))))
    q.processAllAvailable()
    // batches 2+3: a tiny tail — the second refresh (batch 3) must sign
    // ONLY these 5 rows, never re-reading the 500-row corpus
    input.addData((500 until 503).map(i => (i.toLong, v(i))))
    q.processAllAvailable()
    val reads = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          reads.addAndGet(t.taskMetrics.inputMetrics.recordsRead): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    input.addData((503 until 505).map(i => (i.toLong, v(i))))
    q.processAllAvailable()
    Thread.sleep(1500) // drain the async listener bus
    spark.sparkContext.removeSparkListener(listener)
    q.stop()
    // rows-read gate: the incremental refresh reads the 5 new rows plus
    // a handful of meta rows — a full rebuild would read 505+
    assert(reads.get() < 100,
      s"incremental refresh read ${reads.get()} records — full corpus re-sign?")
    // the segmented index is EXACTLY a from-scratch rebuild of the
    // corpus under the pinned model (plane count + centering mean —
    // both are published meta, like IVF's pinned centroids)
    val idx = graft.pipeline.Similarity.readAnnIndex(spark, s"$dir/ann")
    val fresh = graft.pipeline.Similarity.annIndex(
      spark.read.parquet(s"$dir/corpus"), "id", "vec", idx.planes,
      mean = Some(idx.mean))
    def sigs(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "bucket").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (merged, scratch) = (sigs(idx.assigned), sigs(fresh.assigned))
    assert(merged.size === 505)
    assert(merged === scratch)
  }

  test("ANN segment chain auto-compacts at maxSegments; compacted index == scratch rebuild") {
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-compact").toString
    val input = MemoryStream[(Long, Seq[Double])]
    val emb = input.toDF().toDF("id", "vec")
    val q = FactStream.ingestEmbeddingsWithAnnRefresh(emb, dir, s"$dir/ckpt",
      planes = 4, refreshEvery = 1, maxSegments = 3)
    def v(seed: Int) = (0 until 8).map(j => math.sin(seed * 31.0 + j * 7.0))
    val cycles = 8 // chain walks 1,2,3 → compact → 1,2,3 → compact → 1,2
    (0 until cycles).foreach { b =>
      input.addData((b * 10 until b * 10 + 3).map(i => (i.toLong, v(i))))
      q.processAllAvailable()
      val meta = graft.pipeline.Similarity.readAnnMeta(spark, s"$dir/ann").get
      assert(meta.segments.length <= 3,
        s"cycle $b: chain length ${meta.segments.length} exceeds maxSegments=3")
    }
    q.stop()
    // two compactions happened: 8 cycles at one segment per refresh would
    // be a chain of 8 without the bound — it ends at 2
    val meta = graft.pipeline.Similarity.readAnnMeta(spark, s"$dir/ann").get
    assert(meta.segments.length === 2, s"expected post-compaction chain, got $meta")
    // the compacted index is EXACTLY a from-scratch rebuild of the corpus
    val idx = graft.pipeline.Similarity.readAnnIndex(spark, s"$dir/ann")
    assert(idx.planes === 4) // pinned plane count survives compaction
    // a centering model is published and PINNED: it was refitted at the
    // last compaction and the post-compaction incremental segment signed
    // with it (a fresh full-corpus fit would differ — the model lags
    // until the next refit, by design, like IVF's pinned centroids)
    assert(idx.mean.nonEmpty)
    val fresh = graft.pipeline.Similarity.annIndex(
      spark.read.parquet(s"$dir/corpus"), "id", "vec", idx.planes,
      mean = Some(idx.mean))
    def sigs(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "bucket").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (merged, scratch) = (sigs(idx.assigned), sigs(fresh.assigned))
    assert(merged.size === cycles * 3)
    assert(merged === scratch)
  }

  test("streaming IVF refresh: pinned centroids per cycle, retrain at the chain bound") {
    import graft.pipeline.Similarity
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-refresh").toString
    val input = MemoryStream[(Long, Seq[Double])]
    val emb = input.toDF().toDF("id", "vec")
    val q = FactStream.ingestEmbeddingsWithIvfRefresh(emb, dir, s"$dir/ckpt",
      nlist = 4, iters = 2, refreshEvery = 1, maxSegments = 3)
    def v(seed: Int) = (0 until 8).map(j => math.sin(seed * 31.0 + j * 7.0))
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "cell").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    // cycle 0: bootstrap — full Lloyd train over batch 0
    input.addData((0 until 40).map(i => (i.toLong, v(i))))
    q.processAllAvailable()
    val cents0 = Similarity.readIvfIndex(spark, s"$dir/ivf").centroids
    assert(cents0.length === 4)
    // cycles 1+2: incremental — the model stays PINNED, the chain grows
    input.addData((40 until 44).map(i => (i.toLong, v(i))))
    q.processAllAvailable()
    input.addData((44 until 48).map(i => (i.toLong, v(i))))
    q.processAllAvailable()
    val idx = Similarity.readIvfIndex(spark, s"$dir/ivf")
    assert(idx.centroids === cents0, "incremental refresh must not retrain")
    assert(Similarity.readIvfMeta(spark, s"$dir/ivf").get.segments.length === 3)
    // refreshed index == assigning the whole corpus to the same model
    val scratch = Similarity.ivfAssign(
      spark.read.parquet(s"$dir/corpus"), "id", "vec", cents0)
    val merged = cells(idx.assigned)
    assert(merged.size === 48)
    assert(merged === cells(scratch))
    // cycle 3: chain at maxSegments → compaction RETRAINS over all rows
    input.addData((48 until 52).map(i => (i.toLong, v(i))))
    q.processAllAvailable()
    q.stop()
    assert(Similarity.readIvfMeta(spark, s"$dir/ivf").get.segments.length === 1,
      "compaction must reset the segment chain")
    val idx2 = Similarity.readIvfIndex(spark, s"$dir/ivf")
    val retrained = Similarity.ivfIndex(
      spark.read.parquet(s"$dir/corpus"), "id", "vec", dim = 8,
      nlist = 4, iters = 2)
    idx2.centroids.zip(retrained.centroids).foreach { case (a, b) =>
      a.zip(b).foreach { case (x, y) =>
        assert(math.abs(x - y) < 1e-9, "compacted model != scratch retrain")
      }
    }
    assert(cells(idx2.assigned) === cells(retrained.assigned))
    // ...and the refreshed index serves probes (its own vector wins)
    val top = Similarity.ivfTopKIndexed(idx2, v(50), k = 1)
      .collect().map(_.getLong(0)).toSeq
    assert(top === Seq(50L), s"expected the ingested vector itself, got $top")
  }

  test("ANN retention keeps the newest versions; segments live while referenced") {
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-retain").toString
    val input = MemoryStream[(Long, Seq[Double])]
    val emb = input.toDF().toDF("id", "vec")
    val q = FactStream.ingestEmbeddingsWithAnnRefresh(emb, dir, s"$dir/ckpt",
      planes = 4, refreshEvery = 1, keepVersions = 1)
    def v(seed: Int) = (0 until 8).map(j => math.sin(seed * 31.0 + j * 7.0))
    (0 until 3).foreach { b => // three refresh cycles: v0, then +seg, +seg
      input.addData((b * 10 until b * 10 + 4).map(i => (i.toLong, v(i))))
      q.processAllAvailable()
    }
    q.stop()
    val ann = new java.io.File(s"$dir/ann")
    val versionDirs = ann.listFiles().filter(_.getName.matches("v\\d+-.*"))
    assert(versionDirs.length === 1, s"keepVersions=1: ${versionDirs.map(_.getName).toSeq}")
    // all three segments are referenced by the surviving version — none reaped
    assert(new java.io.File(s"$dir/ann/segments").listFiles().length === 3)
    val idx = graft.pipeline.Similarity.readAnnIndex(spark, s"$dir/ann")
    assert(idx.assigned.count() === 12)
  }

  test("eventFacts emits fact-log rows on batch and streaming frames alike") {
    val batch = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 7L, "click", 2.5))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val facts = FactStream.eventFacts(batch, userBase = 1000L, txBase = 10L)
    val rows = facts.collect()
    assert(rows.length === 2)
    assert(facts.filter(col("a") === "last_value").head().getDouble(5) === 2.5)
    assert(facts.select("e").distinct().head().getLong(0) === 1007L)
  }

  test("stream_pack: per-micro-batch packing equals the batch operator") {
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-pack").toString
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val q = FactStream.ingestPackedDocuments(docs, dir, s"$dir/ckpt",
      budget = 6, shards = 4)
    // ids spread across shards (0,1,1 / 2,3) so the multi-shard
    // packing path is actually exercised
    val b0 = Seq((0L, "a b c"), (5L, "d e f g"), (9L, "h i"))
    val b1 = Seq((6L, "j k l m n"), (7L, "o p"))
    input.addData(b0)
    q.processAllAvailable()
    input.addData(b1)
    q.processAllAvailable()
    q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_tokens", "shard", "pack", "pack_offset").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    import spark.implicits._
    // batch 0 packs independently of batch 1 (batch-owned dirs), and
    // each equals the BATCH operator run on the same rows
    val got0 = rows(spark.read.parquet(s"$dir/packed/batch=0"))
    val want0 = rows(graft.pipeline.TextAnalysis.packSequences(
      b0.toDF("doc_id", "text"), budget = 6, shards = 4))
    assert(got0 === want0)
    val got1 = rows(spark.read.parquet(s"$dir/packed/batch=1"))
    val want1 = rows(graft.pipeline.TextAnalysis.packSequences(
      b1.toDF("doc_id", "text"), budget = 6, shards = 4))
    assert(got1 === want1)
    assert(rows(spark.read.parquet(s"$dir/packed")).size === 5)
    // packed rows are self-contained TRAINING rows: the text payload
    // rides the shard shuffle into the sink (no join back to the corpus)
    val withText = spark.read.parquet(s"$dir/packed")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(withText === (b0 ++ b1).toMap)
  }

  test("stream_manifest: live export manifest equals the batch manifest exactly") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val q = FactStream.manifestStream(docs, nShards = 4).writeStream
      .format("memory").queryName("live_manifest")
      .outputMode("complete").start()
    val b0 = Seq((0L, "alpha beta gamma"), (1L, "delta"), (2L, "epsilon zeta"))
    val b1 = Seq((3L, "eta theta iota kappa"), (4L, "lambda mu"))
    input.addData(b0)
    q.processAllAvailable()
    input.addData(b1)
    q.processAllAvailable()
    q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    import spark.implicits._
    val live = rows(spark.table("live_manifest"))
    // count/sum/bit_xor all merge exactly across micro-batches: the
    // streamed state IS the batch manifest, bit for bit
    val batch = rows(graft.pipeline.TextAnalysis.exportManifest(
      (b0 ++ b1).toDF("doc_id", "text"), nShards = 4))
    assert(live === batch)
  }

  test("stream_pii: live incidence report equals the batch text_pii_report") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    val docs = input.toDF().toDF("doc_id", "text", "source")
    val q = FactStream.piiStream(docs).writeStream
      .format("memory").queryName("live_pii")
      .outputMode("complete").start()
    val b0 = Seq(
      (1L, "mail a@b.com and c@d.org now", "s1"),
      (2L, "ssn 123-45-6789 on file", "s1"),
      (3L, "perfectly clean text here", "s2"))
    val b1 = Seq(
      (4L, "acct 12345678 please", "s2"),
      (5L, "still nothing sensitive", "s1"))
    input.addData(b0)
    q.processAllAvailable()
    input.addData(b1)
    q.processAllAvailable()
    q.stop()
    def cells(df: org.apache.spark.sql.DataFrame) = df
      .select("source", "n_docs", "n_emails", "n_ssns", "n_digit_runs",
        "docs_any", "pii_incidence")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6))).toSet
    import spark.implicits._
    val live = cells(spark.table("live_pii"))
    // same function on both sides: the streamed state cannot drift
    // from the published datasheet
    val batch = cells(graft.pipeline.TextAnalysis.piiReport(
      (b0 ++ b1).toDF("doc_id", "text", "source")))
    assert(live === batch)
    assert(live.exists { case (s, _, em, ss, _, any, inc) =>
      s == "s1" && em == 2L && ss == 1L && any == 2L && inc > 0.6 })
  }

  test("stream_profile: live datasheet cells equal the batch corpus_profile leaf cells") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    val docs = input.toDF().toDF("doc_id", "text", "source")
    val q = FactStream.profileStream(docs).writeStream
      .format("memory").queryName("live_profile")
      .outputMode("complete").start()
    val b0 = Seq(
      (0L, "the cat and the dog sat on the mat", "srcA"),
      (1L, "der hund und die katze ist nicht da", "srcA"),
      (2L, "call me at 555-12-3456 the old number", "srcB"))
    val b1 = Seq(
      (3L, "a quiet morning by the lake is the best", "srcA"),
      (4L, "el rio y los arboles por la manana", "srcB"))
    input.addData(b0)
    val t0 = System.nanoTime(); q.processAllAvailable()
    val t0s = (System.nanoTime() - t0) / 1e9
    input.addData(b1)
    val t1 = System.nanoTime(); q.processAllAvailable()
    val t1s = (System.nanoTime() - t1) / 1e9
    q.stop()
    // aggregate-state twin in the latency trendline (the other suites
    // are sidecar-publishing; this one's state is the bounded
    // (source, lang) cell relation)
    recordLatency("stream_profile", t0s, t1s)
    def cells(df: org.apache.spark.sql.DataFrame) = df
      .select("source", "pred_lang", "n_docs", "n_tokens", "avg_quality", "pii_frac")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toSet
    import spark.implicits._
    val live = cells(spark.table("live_profile"))
    // the incremental state after two micro-batches IS the batch
    // datasheet of everything ingested (leaf cells; rollup totals are
    // a downstream sum over this tiny relation, not stream state)
    val batch = cells(graft.pipeline.TextAnalysis.corpusProfile(
        (b0 ++ b1).toDF("doc_id", "text", "source"))
      .filter(org.apache.spark.sql.functions.col("source") =!= "<all>" &&
        org.apache.spark.sql.functions.col("pred_lang") =!= "<all>"))
    assert(live === batch)
    // the PII probe fires on the planted SSN-shaped doc
    assert(live.exists { case (s, _, _, _, _, pii) => s == "srcB" && pii > 0.0 })
  }

  test("stream_near_dedup: cross-batch MinHash gate equals the batch near-dedup") {
    implicit val sql = spark.sqlContext
    import graft.pipeline.Dedup
    val dir = java.nio.file.Files.createTempDirectory("graft-near-dedup").toString
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val q = FactStream.ingestNearDedup(docs, dir, s"$dir/ckpt",
      k = 64, bands = 16, estThreshold = 0.8)
    // identical token SETS (order/multiplicity differ) make the MinHash
    // estimate exactly 1.0 — deterministic drops through both the
    // within-batch path and the cross-batch band-sidecar path
    val b0 = Seq(
      (1L, "x y z w"),
      (2L, "w z y x x"),      // same set as 1 → dropped within batch
      (3L, "p q r s"))
    val b1 = Seq(
      (10L, "z w x y"),        // same set as 1 → dropped cross-batch
      (11L, "fresh new content here"),
      (12L, "s r q p p p"))    // same set as 3 → dropped cross-batch
    def timed(data: Seq[(Long, String)]): Double = {
      val t0 = System.nanoTime()
      input.addData(data); q.processAllAvailable()
      (System.nanoTime() - t0) / 1e9
    }
    val (t0s, t1s) = (timed(b0), timed(b1))
    recordLatency("stream_near_dedup", t0s, t1s)
    q.stop()
    def survivors(batch: Long) = spark.read
      .parquet(s"$dir/survivors/batch=$batch")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors(0) === Set(1L, 3L))
    assert(survivors(1) === Set(11L))
    // streamed admission == the batch operator over the full corpus
    import spark.implicits._
    val all = (b0 ++ b1).toDF("doc_id", "text")
    val batchKept = Dedup.keepSurvivors(all,
      Dedup.minhashLsh(all, k = 64, bands = 16, estThreshold = 0.8))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors(0) ++ survivors(1) === batchKept)
  }

  test("curation pipeline composition: gate → dedup → pack → ANN refresh equals the batch pipeline") {
    implicit val sql = spark.sqlContext
    import graft.pipeline.{Dedup, Similarity, TextAnalysis}
    val dir = java.nio.file.Files.createTempDirectory("graft-curation").toString
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val evalDocs = Seq(
      (900L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val q = FactStream.ingestCurationPipeline(docs, evalDocs, dir, s"$dir/ckpt",
      lang = "en", minQuality = 0.3, budget = 8, shards = 4, dims = 16,
      planes = 4, refreshEvery = 1)
    val cleanA = "the cat and the dog sat on a mat in the sun and it is a " +
      "good day to walk in the park with a friend and enjoy the afternoon"
    val cleanB = "a quiet morning by the lake is the best time to read a " +
      "book and the birds sing in the trees while the water is still"
    val cleanC = "the old house at the end of the road has a garden and " +
      "the flowers grow tall in the warm light of the long summer days"
    val b0 = Seq(
      (1L, cleanA),                                             // passes
      (2L, "prefix words alpha beta gamma delta epsilon zeta eta theta " +
        "more tail words here the and of to a in"),             // contaminated
      (3L, "!!! ### $$$ %%% ^^^ &&& *** ((( )))"),              // junk
      (4L, cleanB))                                             // passes
    val b1 = Seq(
      (5L, cleanA),                                             // cross-batch dup of 1
      (6L, cleanC),                                             // passes
      (7L, cleanB))                                             // cross-batch dup of 4
    // end-to-end per-batch latency, recorded in the spec report so a
    // regression in the full ingest path (gates + dedup + pack + ANN
    // refresh per micro-batch) is visible round-over-round
    def timedBatch(data: Seq[(Long, String)]): Double = {
      val t0 = System.nanoTime()
      input.addData(data); q.processAllAvailable()
      (System.nanoTime() - t0) / 1e9
    }
    val (t0s, t1s) = (timedBatch(b0), timedBatch(b1))
    info(f"stream_curation per-batch wall time: b0=$t0s%.2fs b1=$t1s%.2fs")
    recordLatency("stream_curation", t0s, t1s)
    q.stop()
    // 1. final packed corpus == the BATCH pipeline on the same data:
    //    shared gates, then exact dedup (min doc_id per content hash —
    //    ids grow with arrival order, so batch min-id == streaming
    //    first-seen)
    val all = (b0 ++ b1).toDF("doc_id", "text")
    val expectSurvivors = all
      .join(FactStream.gateVerdicts(all, evalDocs, "en", 0.3, 8)
        .filter(col("pass")).select("doc_id"), "doc_id")
    val expectKept = expectSurvivors
      .join(Dedup.exact(expectSurvivors).select("doc_id"), "doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val packed = spark.read.parquet(s"$dir/packed")
    assert(packed.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet === expectKept)
    assert(expectKept.map(_._1) === Set(1L, 4L, 6L))
    // 2. per-batch pack coordinates equal the batch operator on that
    //    batch's survivors
    def coords(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_tokens", "shard", "pack", "pack_offset").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(coords(spark.read.parquet(s"$dir/packed/batch=1")) ===
      coords(TextAnalysis.packSequences(
        Seq((6L, cleanC)).toDF("doc_id", "text"), budget = 8, shards = 4)))
    // 3. rejects quarantined with verdicts, nothing lost
    assert(spark.read.parquet(s"$dir/quarantine").select("doc_id")
      .collect().map(_.getLong(0)).toSet === Set(2L, 3L))
    // 4. the served ANN index covers exactly the survivors, grew
    //    incrementally (bootstrap + one O(new rows) segment), and its
    //    bucket assignment equals signing the streamed corpus from
    //    scratch with the pinned plane count
    val idx = Similarity.readAnnIndex(spark, s"$dir/ann")
    assert(idx.planes === 4)
    def buckets(df: org.apache.spark.sql.DataFrame) = df
      .select("id", "bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val corpus = spark.read.parquet(s"$dir/corpus")
    assert(buckets(idx.assigned) ===
      buckets(Similarity.annIndex(corpus, "id", "vec", planes = 4,
        mean = Some(idx.mean)).assigned))
    assert(buckets(idx.assigned).map(_._1) === Set(1L, 4L, 6L))
    // embeddings are the deterministic hashing-trick vectors of the
    // kept text — the batch embed stage reproduces them bit-for-bit
    val expectVecs = TextAnalysis.hashEmbedding(
        Seq((1L, cleanA), (4L, cleanB), (6L, cleanC)).toDF("doc_id", "text"), 16)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toMap
    corpus.collect().map(r => (r.getLong(0), r.getSeq[Double](1))).foreach {
      case (id, vec) => assert(vec === expectVecs(id), s"vec drift for $id")
    }
  }

  test("stream_gate: ingest-time language/quality/decontamination gating with quarantine") {
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-gate").toString
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    // the eval side rides through a counting map: each GATE EXECUTION
    // rebuilds the eval-shingle broadcast, scanning this row once — so
    // the accumulator counts how many times the gates ran per batch
    // (the double-compute regression would read it twice).
    val evalScans = spark.sparkContext.longAccumulator("evalScans")
    val evalDocs = Seq(
      (900L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDS().map { t => evalScans.add(1); t }.toDF("doc_id", "text")
    val q = FactStream.ingestGatedDocuments(docs, evalDocs, dir, s"$dir/ckpt",
      lang = "en", minQuality = 0.3)
    val clean = (1L,
      "the cat and the dog sat on a mat in the sun and it is a good day " +
        "to walk in the park with a friend and enjoy the quiet afternoon")
    // English, decent quality — dropped ONLY by the eval 8-gram it carries
    val contaminated = (2L,
      "prefix words alpha beta gamma delta epsilon zeta eta theta " +
        "more tail words here the and of to a in")
    val junk = (3L, "!!! ### $$$ %%% ^^^ &&& *** ((( )))")
    // null text: every gate column evaluates null — must be QUARANTINED
    // (the auditable-drop guarantee), not vanish from both outputs
    val nullText = (4L, null: String)
    input.addData(Seq(clean, contaminated, junk, nullText))
    q.processAllAvailable()
    q.stop()
    val corpus = spark.read.parquet(s"$dir/corpus")
    assert(corpus.select("doc_id").collect().map(_.getLong(0)).toSet === Set(1L))
    val quarantine = spark.read.parquet(s"$dir/quarantine")
      .select("doc_id", "contaminated", "pred_lang").collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getString(2)))).toMap
    assert(quarantine.keySet === Set(2L, 3L, 4L))
    assert(quarantine(2L) === ((true, "en")))   // killed by decontamination alone
    assert(!quarantine(3L)._1 && quarantine(3L)._2 != "en") // killed by the gates
    // gates executed exactly once for the one micro-batch: the corpus
    // and quarantine writes shared one persisted gate pass
    assert(evalScans.value === 1L,
      s"gates ran ${evalScans.value} times for 1 micro-batch (expected 1)")
  }

  test("replay idempotency: re-delivered micro-batch is a no-op for the sidecar sinks") {
    // foreachBatch is at-least-once — a batch can re-run after its
    // pointer was published. Re-invoking each step with the same
    // batchId must leave state byte-identical (no double-merged
    // sketches, no overwrite-while-reading wedge).
    val dir = java.nio.file.Files.createTempDirectory("replay").toString

    // heavy hitters: double-merge would inflate counters + __total__
    val docs = Seq((1L, "alpha alpha beta"), (2L, "alpha gamma")).toDF("doc_id", "text")
    FactStream.heavyHittersStep(docs, 0L, s"$dir/hh", k = 4)
    val hh1 = spark.read.parquet(s"$dir/hh/v0").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    FactStream.heavyHittersStep(docs, 0L, s"$dir/hh", k = 4) // replay
    val hh2 = spark.read.parquet(s"$dir/hh/v0").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hh1("__total__") === 5L && hh2 === hh1,
      s"replayed batch changed the sketch: $hh1 vs $hh2")

    // delta-recompute: replay used to read v0 and overwrite v0 (error)
    def rebuild(slice: org.apache.spark.sql.DataFrame) =
      slice.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    val b0 = Seq((1L, 10L), (2L, 20L)).toDF("user_id", "day")
    FactStream.deltaRecomputeStep(b0, 0L, s"$dir/dr", "user_id", 2)(rebuild)
    FactStream.deltaRecomputeStep(b0, 0L, s"$dir/dr", "user_id", 2)(rebuild) // replay
    val dr = spark.read.parquet(s"$dir/dr/v0").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dr === Set((1L, 1L), (2L, 1L)))
  }

  test("sidecar retention: version GC and log compaction bound disk under long streams") {
    val dir = java.nio.file.Files.createTempDirectory("gc").toString
    def rebuild(slice: org.apache.spark.sql.DataFrame) =
      slice.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    (0L until 5L).foreach { b =>
      val batch = Seq((b % 3, b * 10)).toDF("user_id", "day")
      FactStream.deltaRecomputeStep(batch, b, s"$dir/dr", "user_id", 2)(rebuild)
    }
    val names = new java.io.File(s"$dir/dr").listFiles().map(_.getName).toSet
    val vDirs = names.filter(_.matches("v\\d+"))
    val logDirs = names.filter(_.matches("log\\d*"))
    assert(vDirs === Set("v4", "v3"), s"version GC left $vDirs")
    assert(logDirs === Set("log4"), s"log compaction left $logDirs")
    // and compaction lost nothing: the sidecar equals a full recompute
    val ptr = {
      val src = scala.io.Source.fromFile(s"$dir/dr/_latest")
      try src.mkString.trim finally src.close()
    }
    val got = spark.read.parquet(s"$dir/dr/$ptr").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((0L, 2L), (1L, 2L), (2L, 1L)), s"sidecar drifted: $got")
  }

  test("stream_sample: merged k-row reservoir equals the batch ES sample under any boundaries") {
    import graft.pipeline.TextAnalysis
    val dir = java.nio.file.Files.createTempDirectory("wres").toString
    val docs = (1L to 60L).map(i => (i, i * 10 + (i % 7))).toDF("doc_id", "weight")
    val k = 8
    // three uneven batches
    FactStream.weightedSampleStep(docs.filter(col("doc_id") <= 5), 0L, s"$dir/ws", "doc_id", "weight", k)
    FactStream.weightedSampleStep(docs.filter(col("doc_id").between(6, 40)), 1L, s"$dir/ws", "doc_id", "weight", k)
    FactStream.weightedSampleStep(docs.filter(col("doc_id") >= 41), 2L, s"$dir/ws", "doc_id", "weight", k)
    def reservoir() = spark.read.parquet(s"$dir/ws/v2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = TextAnalysis.weightedSample(docs, "doc_id", "weight", k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(reservoir() === want,
      s"streamed reservoir != batch sample: ${reservoir()} vs $want")
    // replay no-op
    FactStream.weightedSampleStep(docs.filter(col("doc_id") >= 41), 2L, s"$dir/ws", "doc_id", "weight", k)
    assert(reservoir() === want, "replayed batch changed the reservoir")
  }

  test("stream_softdedup: served weights equal batch softDedup under any boundaries; replay + redelivery safe") {
    import graft.pipeline.Dedup
    val dir = java.nio.file.Files.createTempDirectory("softd").toString
    val docs = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "delta epsilon"), (4L, "ALPHA   beta gamma"), // joins cluster 1
      (5L, "zeta eta theta iota"), (6L, "delta epsilon")
    ).toDF("doc_id", "text")
    // uneven batches; cluster members arrive across batch boundaries
    def timedStep(df: org.apache.spark.sql.DataFrame, b: Long): Double = {
      val t0 = System.nanoTime()
      FactStream.softDedupStep(df, b, s"$dir/sd")
      (System.nanoTime() - t0) / 1e9
    }
    val t0s = timedStep(docs.filter(col("doc_id") <= 2), 0L)
    val t1s = timedStep(docs.filter(col("doc_id").between(3, 4)), 1L)
    timedStep(docs.filter(col("doc_id") >= 5), 2L)
    recordLatency("stream_softdedup", t0s, t1s)
    def served() = FactStream.softDedupWeights(spark, s"$dir/sd").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    val want = Dedup.softDedup(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    assert(served() === want, s"streamed weights != batch: ${served()} vs $want")
    // same-batch replay: dir guard makes the step a no-op
    FactStream.softDedupStep(docs.filter(col("doc_id") >= 5), 2L, s"$dir/sd")
    assert(served() === want, "replayed batch changed the weights")
    // cross-batch REDELIVERY of an already-ingested id (at-least-once
    // source): collapsed at serve time, clusters never inflate
    FactStream.softDedupStep(docs.filter(col("doc_id") === 1), 3L, s"$dir/sd")
    assert(served() === want, "redelivered doc inflated its cluster")
  }

  test("stream_novelty: served scores equal batch noveltyScore under any boundaries; replay + redelivery safe") {
    import graft.pipeline.TextAnalysis
    val dir = java.nio.file.Files.createTempDirectory("novel").toString
    val orig = (1 to 9).map(i => s"w$i").mkString(" ")
    val half = (2 to 10).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, orig), (2L, orig), (3L, half),
      (4L, (20 to 29).map(i => s"v$i").mkString(" "))).toDF("doc_id", "text")
    // the copy (doc 2) and the originator (doc 1) arrive in DIFFERENT
    // batches — first-occurrence must still resolve to doc 1
    FactStream.noveltyStep(docs.filter(col("doc_id") === 1), 0L, s"$dir/nv")
    FactStream.noveltyStep(docs.filter(col("doc_id").between(2, 3)), 1L, s"$dir/nv")
    FactStream.noveltyStep(docs.filter(col("doc_id") === 4), 2L, s"$dir/nv")
    def served() = FactStream.noveltyScores(spark, s"$dir/nv").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    val want = TextAnalysis.noveltyScore(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    assert(served() === want, s"streamed novelty != batch: ${served()} vs $want")
    // same-batch replay is a no-op via the dir guard
    FactStream.noveltyStep(docs.filter(col("doc_id") === 4), 2L, s"$dir/nv")
    assert(served() === want, "replayed batch changed the scores")
    // cross-batch redelivery collapses in the serve-time distinct
    FactStream.noveltyStep(docs.filter(col("doc_id") === 2), 3L, s"$dir/nv")
    assert(served() === want, "redelivered doc changed the scores")
  }

  test("stream_importance: additive bucket sidecar is batch-boundary exact; scoring matches batch DSIR") {
    import graft.pipeline.TextAnalysis
    val dir = java.nio.file.Files.createTempDirectory("dsir").toString
    val buckets = 64
    val docs = Seq(
      (1L, "spark fast query engine", "tgt"),
      (2L, "slow junk junk junk spam", "raw"),
      (3L, "query engine fast plan", "tgt"),
      (4L, "spam spam lottery winner", "raw"),
      (5L, "fast plan join engine", "raw"),
      (6L, "junk lottery spam spam", "raw")).toDF("doc_id", "text", "source")
    val isTarget = col("source") === "tgt"
    // ingest in UNEVEN batches; the additive sidecar must equal the
    // batch operator's counts over everything ingested so far
    FactStream.dsirStep(docs.filter(col("doc_id") <= 1), isTarget, 0L, s"$dir/ds", buckets)
    FactStream.dsirStep(docs.filter(col("doc_id").between(2, 4)), isTarget, 1L, s"$dir/ds", buckets)
    FactStream.dsirStep(docs.filter(col("doc_id") >= 5), isTarget, 2L, s"$dir/ds", buckets)
    def sidecar() = spark.read.parquet(s"$dir/ds/v2")
    val want = TextAnalysis.dsirBucketCounts(docs, isTarget, buckets).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = sidecar().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === want, s"sidecar counts drifted from batch: $got vs $want")
    // at-least-once replay of the last batch is a no-op
    FactStream.dsirStep(docs.filter(col("doc_id") >= 5), isTarget, 2L, s"$dir/ds", buckets)
    val got2 = sidecar().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got2 === want, "replayed batch inflated the DSIR counters")
    // serving parity: scoring the corpus against the sidecar == the
    // batch importanceWeights output, row-identical
    val servem = TextAnalysis.dsirScoreAgainst(docs, sidecar(), buckets).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))).toSet
    val batch = TextAnalysis.importanceWeights(docs, isTarget, buckets).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))).toSet
    assert(servem === batch, s"sidecar scoring != batch DSIR: $servem vs $batch")
    // version GC: live + previous version dirs remain, older are gone
    val vDirs = new java.io.File(s"$dir/ds").listFiles()
      .map(_.getName).filter(_.matches("v\\d+")).toSet
    assert(vDirs === Set("v2", "v1"), s"version GC left $vDirs")
  }
}

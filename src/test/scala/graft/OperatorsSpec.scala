package graft

import graft.operators.{AsOfJoin, RangeJoin}
import graft.pipeline.{Dedup, Multimodal}
import graft.datalog.Pull
import graft.transact.Transactor
import org.apache.spark.sql.functions._

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  test("AsOfJoin picks latest right <= left time, inclusive, per key") {
    val left = Seq((1L, 10L, "l1"), (1L, 20L, "l2"), (2L, 5L, "l3"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 10L, 100L, 1L), (1L, 15L, 150L, 2L), (2L, 9L, 900L, 3L))
      .toDF("k", "t", "v", "rid")
    val out = AsOfJoin.leftAsOf(left, right, "k", "t", Seq("v"), "rid")
      .select("tag", "asof_v").collect().map(r => (r.getString(0), Option(r.get(1)))).toMap
    assert(out("l1") === Some(100L)) // inclusive at equal time
    assert(out("l2") === Some(150L))
    assert(out("l3") === None)       // right is later than left
  }

  test("RangeJoin matches exactly the pairs within radius") {
    val l = Seq((1L, 100L), (2L, 500L)).toDF("lid", "lt")
    val r = Seq((10L, 90L), (11L, 160L), (12L, 450L), (13L, 620L)).toDF("rid", "rt")
    val pairs = RangeJoin.within(l, r, "lt", "rt", 60L)
      .select("lid", "rid").collect().map(t => (t.getLong(0), t.getLong(1))).toSet
    assert(pairs === Set((1L, 10L), (1L, 11L), (2L, 12L)))
  }

  test("salted range join equals the unsalted join (hot-band guard)") {
    val l = (1 to 200).map(i => (i.toLong, (i % 7) * 100L)).toDF("lid", "lt")
    val r = (1 to 300).map(i => (1000L + i, (i % 5) * 100L + i % 60)).toDF("rid", "rt")
    val plain = RangeJoin.within(l, r, "lt", "rt", 60L).select("lid", "rid")
    val salted = RangeJoin.within(l, r, "lt", "rt", 60L, salts = 4).select("lid", "rid")
    assert(salted.count() === plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("exact dedup keeps min doc_id per content") {
    val docs = Seq((1L, "a b c"), (5L, "a  B c "), (9L, "x y")).toDF("doc_id", "text")
    val out = Dedup.exact(docs).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out === Set(1L, 9L)) // 5 normalizes to same content as 1
  }

  test("minhash: identical token sets share the full signature") {
    val docs = Seq((1L, "w1 w2 w3 w4 w5"), (2L, "w5 w4 w3 w2 w1"), (3L, "z1 z2 z3"))
      .toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs, 16).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) === sigs(2L))
    assert(sigs(1L) !== sigs(3L))
  }

  test("simhash: identical docs at hamming 0, disjoint docs far apart") {
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "delta gamma beta alpha"),
      (3L, "zz yy xx ww vv uu")).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(docs, maxHamming = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0))
    assert(!pairs.exists(p => p._2 == 3L || p._1 == 3L))
  }

  test("multimodal plumbing: decode meta, resize bounds, frame sampling shapes") {
    val docs = Seq((1L, "x" * 300), (2L, "short")).toDF("doc_id", "text")
    val decoded = Multimodal.decode(Multimodal.asBinary(docs))
    val resized = Multimodal.resize(decoded, maxW = 100, maxH = 100)
    val metas = resized.select(col("doc_id"), col("meta.width"), col("meta.height")).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    // every resized dimension fits the bounding box
    assert(metas.values.forall { case (w, h) => w <= 100 && h <= 100 && w >= 1 && h >= 1 })
    // frame sampling: 300 bytes at 64-byte frames = 5 frames, stride 2 -> idx 0,2,4
    val frames = Multimodal.frameSample(Multimodal.asBinary(docs), 64, 2)
      .filter(col("doc_id") === 1L)
      .select("frame_idx").collect().map(_.getInt(0)).sorted
    assert(frames.toSeq === Seq(0, 2, 4))
  }

  test("multimodal audio: PCM16 windows carry exact RMS and zero-crossing features") {
    def pcm(samples: Seq[Int]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(samples.length * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      samples.foreach(s => b.putShort(s.toShort))
      b.array()
    }
    val half = 16384 // 0.5 full-scale exactly
    val media = Seq(
      (1L, pcm(Seq.fill(512)(0))),                                  // silence
      (2L, pcm(Seq.fill(512)(half))),                               // DC at 0.5
      (3L, pcm((0 until 512).map(i => if (i % 2 == 0) half else -half))), // alternating
      (4L, pcm(Seq.fill(100)(half)))                                // short tail window
    ).toDF("doc_id", "media")
    val rowsWithNull = Multimodal.audioFeatures(
      media.unionAll(Seq((9L, null.asInstanceOf[Array[Byte]])).toDF("doc_id", "media")),
      winSamples = 256).collect()
    // a null payload yields zero windows, not an NPE
    assert(!rowsWithNull.exists(_.getLong(0) == 9L))
    val rows = Multimodal.audioFeatures(media, winSamples = 256).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getInt(2), r.getDouble(3), r.getInt(4))))
      .toMap
    assert(rows.size === 7) // 2 + 2 + 2 + 1 windows
    assert(rows((1L, 0)) === ((256, 0.0, 0)) && rows((1L, 1)) === ((256, 0.0, 0)))
    assert(rows((2L, 0)) === ((256, 0.5, 0)))
    // alternating sign flips at every sample boundary within a window
    assert(rows((3L, 0)) === ((256, 0.5, 255)) && rows((3L, 1)) === ((256, 0.5, 255)))
    assert(rows((4L, 0)) === ((100, 0.5, 0)))
  }

  test("multimodal: real PNG/JPEG decode via ImageIO, resize re-encodes true pixels") {
    def encode(w: Int, h: Int, fmt: String): Array[Byte] = {
      val imgType =
        if (fmt == "jpeg") java.awt.image.BufferedImage.TYPE_INT_RGB
        else java.awt.image.BufferedImage.TYPE_INT_ARGB
      val img = new java.awt.image.BufferedImage(w, h, imgType)
      (0 until w).foreach(x => (0 until h).foreach(y =>
        img.setRGB(x, y, (x * 31 + y * 7) | 0xff000000)))
      val baos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, baos))
      baos.toByteArray
    }
    val media = Seq(
      (1L, encode(320, 200, "png")),
      (2L, encode(64, 48, "jpeg")),
      (3L, "not an image at all".getBytes("UTF-8"))).toDF("doc_id", "media")
    val decoded = Multimodal.decode(media)
    val metas = decoded.select(col("doc_id"), col("meta.*")).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    // real header metadata for the real images...
    assert(metas(1L) === ((320, 200, "png")))
    assert(metas(2L) === ((64, 48, "jpeg")))
    // ...deterministic fallback (not a crash) for the non-image payload
    assert(metas(3L)._1 >= 1 && metas(3L)._2 >= 1)

    val resized = Multimodal.resize(decoded, maxW = 100, maxH = 100)
    val out = resized.select(col("doc_id"), col("media"), col("meta.*")).collect()
      .map(r => r.getLong(0) ->
        ((r.getAs[Array[Byte]](1), r.getInt(2), r.getInt(3), r.getString(4)))).toMap
    // aspect-preserving fit: 320x200 -> 100x62
    assert(out(1L)._2 === 100 && out(1L)._3 === 62)
    // the RESIZED PAYLOAD is a real PNG of the new dimensions
    assert(Multimodal.probeImage(out(1L)._1) === Some((100, 62, "png")))
    // already inside the box: payload untouched
    assert(out(2L)._2 === 64 && out(2L)._3 === 48)
    assert(java.util.Arrays.equals(out(2L)._1,
      media.filter(col("doc_id") === 2L).head().getAs[Array[Byte]]("media")))
  }

  test("imageDedup: aHash survives resize/re-encode; distinct content separates") {
    // half-black/half-white split: every 8x8 cell is far from the mean,
    // so the hash is stable under any downsample path
    def split(w: Int, h: Int, invert: Boolean): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until w).foreach(x => (0 until h).foreach { y =>
        val left = x < w / 2
        val white = if (invert) !left else left
        img.setRGB(x, y, if (white) 0xffffff else 0x000000)
      })
      val baos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "png", baos))
      baos.toByteArray
    }
    def solid(rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(16, 16,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until 16).foreach(x => (0 until 16).foreach(img.setRGB(x, _, rgb)))
      val baos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "png", baos))
      baos.toByteArray
    }
    val media = Seq(
      (1L, split(64, 64, invert = false)),
      (2L, split(64, 64, invert = false)),   // identical bytes
      (3L, split(32, 16, invert = false)),   // same content, other size
      (4L, split(64, 64, invert = true)),    // different content
      (5L, "plain text payload".getBytes("UTF-8")),
      (6L, "plain text payload".getBytes("UTF-8")), // exact non-image dup
      (7L, solid(0xff0000)),                 // uniform red: aHash bits = 0
      (8L, solid(0x0000ff)),                 // uniform blue: must NOT merge with red
      (9L, solid(0xff0000)))                 // red again: must merge with 7
      .toDF("doc_id", "media")
    val out = Multimodal.imageDedup(media).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(out(1L) === ((1L, true)))
    assert(out(2L) === ((1L, false)))
    assert(out(3L) === ((1L, false)), "resized copy must share the aHash")
    assert(out(4L)._1 === 4L && out(4L)._2, "inverted image must separate")
    assert(out(5L)._1 === 5L && out(6L) === ((5L, false)),
      "md5 fallback dedups exact non-image payloads")
    assert(out(7L) === ((7L, true)) && out(9L) === ((7L, false)),
      "identical flat images must merge")
    assert(out(8L) === ((8L, true)),
      "solid blue must not false-merge with solid red")
  }

  test("audioDedup: envelope hash survives gain + silence padding; distinct clips separate") {
    val win = 64
    // PCM16 LE clip: per-window amplitude follows `env` (a sine at
    // fixed frequency, envelope carries the identity)
    def clip(env: Seq[Double], gain: Double = 1.0,
             padWindows: Int = 0): Array[Byte] = {
      val samples = Array.fill(padWindows * win)(0.toShort) ++
        env.flatMap { a =>
          (0 until win).map(i =>
            (a * gain * 20000 * math.sin(2 * math.Pi * i / 16)).toShort)
        } ++ Array.fill(padWindows * win)(0.toShort)
      val bb = java.nio.ByteBuffer.allocate(samples.length * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      samples.foreach(bb.putShort)
      bb.array()
    }
    val rising = (1 to 80).map(i => 0.2 + 0.01 * i)   // distinctive ramp
    val peaked = rising.take(40) ++ rising.take(40).reverse // rise-then-fall
    val media = Seq(
      (1L, clip(rising)),
      (2L, clip(rising)),                        // identical bytes
      (3L, clip(rising, gain = 0.5)),            // volume re-encode
      (4L, clip(rising, padWindows = 10)),       // silence-padded
      (5L, clip(peaked)),                        // different content
      (6L, "not audio at all".getBytes("UTF-8")),
      (7L, "not audio at all".getBytes("UTF-8"))) // exact non-audio dup
      .toDF("doc_id", "media")
    val out = Multimodal.audioDedup(media, winSamples = win).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(out(1L) === ((1L, true)))
    assert(out(2L) === ((1L, false)), "identical clip must merge")
    assert(out(3L) === ((1L, false)), "gain-rescaled copy must merge")
    assert(out(4L) === ((1L, false)), "silence-padded copy must merge")
    assert(out(5L)._1 === 5L && out(5L)._2, "different envelope must separate")
    assert(out(6L)._1 === 6L && out(7L) === ((6L, false)),
      "md5 fallback dedups exact non-audio payloads")
  }

  test("videoDedup: envelope hash survives brightness gain, black padding, frame duplication") {
    val fs = 32
    // raw-frame "video": per-frame brightness follows `lumas`
    def vid(lumas: Seq[Int], dup: Int = 1, padFrames: Int = 0): Array[Byte] =
      (Seq.fill(padFrames)(0) ++ lumas.flatMap(Seq.fill(dup)(_)) ++
        Seq.fill(padFrames)(0))
        .flatMap(l => Array.fill(fs)(l.toByte)).toArray
    val ramp = (1 to 80).map(i => 20 + i)            // distinctive rise
    val peaked = ramp.take(40) ++ ramp.take(40).reverse
    val media = Seq(
      (1L, vid(ramp)),
      (2L, vid(ramp)),                         // identical bytes
      (3L, vid(ramp.map(_ * 2))),              // brightness-doubled re-encode
      (4L, vid(ramp, padFrames = 10)),         // black leader/trailer
      (5L, vid(ramp, dup = 3)),                // 3x slow-motion re-encode
      (6L, vid(peaked)),                       // different content
      (7L, vid(Seq.fill(50)(100))),            // constant-brightness clip
      (8L, vid(Seq.fill(50)(200))),            // constant but brighter: separate
      (9L, "not a video".getBytes("UTF-8")),
      (10L, "not a video".getBytes("UTF-8")))  // exact non-video dup
      .toDF("doc_id", "media")
    val out = Multimodal.videoDedup(media, frameSize = fs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(out(1L) === ((1L, true)))
    assert(out(2L) === ((1L, false)), "identical clip must merge")
    assert(out(3L) === ((1L, false)), "brightness-scaled copy must merge")
    assert(out(4L) === ((1L, false)), "black-padded copy must merge")
    assert(out(5L) === ((1L, false)), "frame-duplicated copy must merge")
    assert(out(6L)._1 === 6L && out(6L)._2, "different envelope must separate")
    assert(out(7L) === ((7L, true)) && out(8L) === ((8L, true)),
      "constant clips of different brightness must not false-merge")
    assert(out(9L)._1 === 9L && out(10L) === ((9L, false)),
      "md5 fallback dedups exact non-video payloads")
  }

  test("bpeLearn matches an independent reference BPE on a planted corpus") {
    // independent reimplementation of Sennrich-style BPE over word
    // counts (chars + </w>, count-desc/lexicographic argmax,
    // leftmost-first non-overlapping fuse)
    def refBpe(wordCounts: Map[String, Long], merges: Int)
        : Seq[(Int, String, String, String, Long)] = {
      var vocab = wordCounts.toVector.map { case (w, c) =>
        (w.map(_.toString).toVector :+ "</w>", c) }
      val out = scala.collection.mutable.Buffer
        .empty[(Int, String, String, String, Long)]
      var m = 1
      var done = false
      while (m <= merges && !done) {
        val pc = scala.collection.mutable.Map.empty[(String, String), Long]
          .withDefaultValue(0L)
        for ((syms, c) <- vocab; i <- 0 until syms.length - 1)
          pc((syms(i), syms(i + 1))) += c
        if (pc.isEmpty) done = true
        else {
          val ((l, r), c) = pc.minBy { case ((l, r), n) => (-n, l, r) }
          out += ((m, l, r, l + r, c))
          vocab = vocab.map { case (syms, cnt) =>
            val acc = scala.collection.mutable.Buffer(syms.head)
            for (s <- syms.tail)
              if (acc.last == l && s == r) acc(acc.length - 1) = l + r
              else acc += s
            (acc.toVector, cnt)
          }
          m += 1
        }
      }
      out.toSeq
    }
    // the classic fixture plus an overlap case ("aaaa": pair counts
    // with multiplicity, leftmost-first fusing)
    val corpus = Seq(
      "low low low low low",
      "lower lower newest newest",
      "newest newest newest newest widest",
      "widest widest aaaa aaaa")
    val docs = corpus.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val wc = corpus.flatMap(_.split("\\s+")).groupBy(identity)
      .map { case (w, g) => w -> g.size.toLong }
    val want = refBpe(wc, 10)
    val got = graft.pipeline.TextAnalysis.bpeLearn(docs, merges = 10)
      .orderBy(col("step")).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    assert(got === want, s"merge tables diverged:\n got=$got\nwant=$want")
  }

  test("contrastivePairs: cluster mates become positives, below-band neighbors hard negatives") {
    val a = Seq(1.0, 0.1, 0.1, 0.1)
    val b = Seq(0.1, 1.0, 0.1, 0.1)
    val noise = Seq(-0.5, -0.5, 1.0, -0.5) // far from both clusters
    val emb = Seq(
      (1L, a), (2L, a), (3L, a),      // cluster A (identical → same bucket)
      (10L, b), (11L, b),             // cluster B
      (99L, noise))
      .toDF("vec_id", "vec")
    val out = graft.pipeline.Similarity.contrastivePairs(emb, "vec_id", "vec",
        posThresh = 0.9, nHard = 3, planes = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    val pos = out.filter(_._3 == "positive").map(p => p._1 -> p._2).toMap
    assert(pos(1L) === 2L && pos(2L) === 1L && pos(3L) === 1L,
      s"cluster-A positives wrong: $pos")
    assert(pos(10L) === 11L && pos(11L) === 10L)
    assert(!pos.contains(99L) && !pos.values.toSet.contains(99L),
      "noise vector must never be a positive")
    val neg = out.filter(_._3 == "hard_negative")
    assert(neg.forall(_._4 < 0.9), "hard negatives must be below the positive band")
    assert(neg.forall(n => pos.contains(n._1)),
      "negatives only for anchors that have a positive")
    // in-band rank-2 neighbors are NEITHER positives nor negatives
    assert(!out.exists(r => r._3 == "hard_negative" && r._1 == 1L && r._2 == 3L))
  }

  test("bpeEncode applies learned merges in order; fertility matches reference encode") {
    // reference encode: apply (l, r) rules in learned order,
    // leftmost-first non-overlapping, over chars + </w>
    def refEncode(w: String, rules: Seq[(String, String)]): Int = {
      var syms = w.map(_.toString).toVector :+ "</w>"
      for ((l, r) <- rules) {
        val acc = scala.collection.mutable.Buffer(syms.head)
        for (s <- syms.tail)
          if (acc.last == l && s == r) acc(acc.length - 1) = l + r
          else acc += s
        syms = acc.toVector
      }
      syms.length
    }
    val corpus = Seq("low low lower", "newest newest widest", "aaaa aa a")
    val docs = corpus.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val rules = graft.pipeline.TextAnalysis.bpeLearn(docs, merges = 6)
      .orderBy(col("step")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val got = graft.pipeline.TextAnalysis.bpeEncode(docs, rules).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    corpus.zipWithIndex.foreach { case (text, i) =>
      val ws = text.split("\\s+").toSeq
      val nBpe = ws.map(w => refEncode(w, rules).toLong).sum
      val (gw, gb, gf) = got(i.toLong)
      assert(gw === ws.size.toLong && gb === nBpe,
        s"doc $i: got ($gw words, $gb bpe) want (${ws.size}, $nBpe)")
      assert(math.abs(gf - nBpe.toDouble / ws.size) < 1e-6)
    }
  }

  test("map-form list-of-maps expands to per-child refs (reference expand-map-forms)") {
    // reference transact_test.clj "List value": line-items is a seq of
    // maps → one ref per child + the child facts
    val sess = Transactor.emptySession(spark)
    val r = sess.transact(Seq(Transactor.MapForm(Seq(
      "customer-id" -> 1234L,
      "line-items" -> Seq(
        Transactor.MapForm(Seq("cost" -> 100L)),
        Transactor.MapForm(Seq("cost" -> 200L)))),
      tempId = Some("order1"))))
    val order = r.tempIds("order1")
    val log = sess.db.log
    assert(log.filter(col("a") === "line-items" && col("e") === order).count() === 2)
    assert(log.filter(col("a") === "cost").select("vlong")
      .collect().map(_.getLong(0)).toSet === Set(100L, 200L))
    // child refs point at the entities carrying the cost facts
    val children = log.filter(col("a") === "line-items").select("vref")
      .collect().map(_.getLong(0)).toSet
    val costEnts = log.filter(col("a") === "cost").select("e")
      .collect().map(_.getLong(0)).toSet
    assert(children === costEnts)
  }

  test("pull vectors card-many SCALAR attrs — one sorted array per entity, no fan-out") {
    // reference fix-cardinalities (pull.clj:148-170) returns a vector
    // for ANY card-many attr, scalar or ref; the parent row must not
    // duplicate per value. Same fact set as the reference's
    // cardinality test (query_test.clj:150-175): Bob's blue retracted.
    import org.apache.spark.sql.Row
    import graft.core.{FactDb, FactStore}
    val facts = Seq(
      (2L, "name", "Bob", 0L, true),
      (2L, "favorite-colors", "red", 0L, true),
      (2L, "favorite-colors", "green", 0L, true),
      (2L, "favorite-colors", "blue", 0L, true),
      (2L, "favorite-colors", "blue", 1L, false),
      (3L, "name", "Emily", 2L, true),
      (3L, "favorite-colors", "yellow", 2L, true),
      // every favorite color retracted: no live value
      (4L, "name", "Dan", 3L, true),
      (4L, "favorite-colors", "pink", 3L, true),
      (4L, "favorite-colors", "pink", 4L, false))
    val rows = facts.map { case (e, a, v, tx, added) =>
      Row(e, a, "s", v, null, null, null, null, tx, added)
    }
    val db = FactDb(
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), FactStore.factSchema),
      Map("name" -> "vstr", "favorite-colors" -> "vstr"),
      cardMany = Set("favorite-colors"))
    val ids = Seq(2L, 3L).toDF("e")
    val flat = Pull.pullFlat(db, ids, Pull.Spec(Seq("name", "favorite-colors")))
    assert(flat.count() === 2, "card-many scalar attr must not duplicate parent rows")
    val byName = flat.collect()
      .map(r => (r.getString(1), r.getSeq[String](2).toSeq)).toMap
    assert(byName("Bob") === Seq("green", "red")) // sorted; retracted blue gone
    assert(byName("Emily") === Seq("yellow"))
    // nested form: same vectoring inside the pulled struct
    val nested = Pull.pullNested(db, ids, Pull.Spec(Seq("name", "favorite-colors")))
    assert(nested.count() === 2)
    val bob = nested.filter(col("e") === 2L).select("pulled").head().getStruct(0)
    assert(bob.getString(0) === "Bob")
    assert(bob.getSeq[String](1).toSeq === Seq("green", "red"))

    // missing data, both faces: a card-many attr with no live value is
    // null (not []), an id with no facts is one row of nulls, and
    // duplicate ids keep their multiplicity
    val more = Seq(2L, 4L, 9L, 9L).toDF("e")
    val spec = Pull.Spec(Seq("name", "favorite-colors"))
    val flatRows = Pull.pullFlat(db, more, spec).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), Option(r.getSeq[String](2)).map(_.toSeq)))
    assert(flatRows.sortBy(_._1).toSeq === Seq((2L, Some("Bob"), Some(Seq("green", "red"))),
      (4L, Some("Dan"), None), (9L, None, None), (9L, None, None)))
    val nestedRows = Pull.pullNested(db, more, spec).collect()
      .map(r => r.getLong(0) -> r.getStruct(1))
    assert(nestedRows.sortBy(_._1).toSeq === Seq(2L -> Row("Bob", Seq("green", "red")),
      4L -> Row("Dan", null), 9L -> Row(null, null), 9L -> Row(null, null)))
  }

  test("transactor + nested pull round-trip") {
    val sess = Transactor.emptySession(spark)
    sess.transact(Seq(Transactor.MapForm(Seq(
      "name" -> "Alice",
      "status" -> Transactor.MapForm(Seq("text" -> "Feeling good"))),
      tempId = Some("alice"))))
    val ids = sess.db.snapshot().filter(col("a") === "name").select(col("e"))
    val nested = Pull.pullNested(sess.db, ids,
      Pull.Spec(Seq("name"), Seq("status" -> Pull.Spec(Seq("text")))))
    val row = nested.select("pulled").collect().head.getStruct(0)
    assert(row.getString(0) === "Alice")
    assert(row.getStruct(1).getString(0) === "Feeling good")

    // missing data through refs, both faces: an absent ref is a null
    // struct, a present ref whose child has none of the sub-spec's
    // attributes a struct of nulls, a card-many ref with no children
    // null; the flat face has one row per card-many child and keeps a
    // parent without children
    import org.apache.spark.sql.Row
    import graft.core.Schema
    sess.transact(Seq(Transactor.MapForm(Seq(
      Schema.SchemaAttr -> "friends", Schema.CardinalityAttr -> Schema.CardinalityMany))))
    val r = sess.transact(Seq(
      Transactor.MapForm(Seq("name" -> "Bob", "handle" -> "bob"), tempId = Some("bob")),
      Transactor.MapForm(Seq("name" -> "Carl",
        "status" -> Transactor.MapForm(Seq("mood" -> "meh"))), tempId = Some("carl"))))
    val (alice, bob, carl) = (sess.db.snapshot().filter(col("a") === "name" && col("vstr") === "Alice")
      .select("e").head().getLong(0), r.tempIds("bob"), r.tempIds("carl"))
    sess.transact(Seq(
      Transactor.Add(alice, "friends", sess.EntityRef(bob)),
      Transactor.Add(alice, "friends", sess.EntityRef(carl))))
    val spec = Pull.Spec(Seq("name"),
      Seq("status" -> Pull.Spec(Seq("text")), "friends" -> Pull.Spec(Seq("handle"))))
    val more = Seq(alice, alice, bob, carl, 99999L).toDF("e")
    val db = sess.dbAsOf(Long.MaxValue) // friends cardinality-many
    val nestedRows = Pull.pullNested(db, more, spec).collect()
      .map(r => r.getLong(0) -> r.getStruct(1)).toSeq.sortBy(_._1)
    assert(nestedRows === Seq(
      alice -> Row("Alice", Row("Feeling good"), Seq(Row(null), Row("bob"))),
      alice -> Row("Alice", Row("Feeling good"), Seq(Row(null), Row("bob"))),
      bob -> Row("Bob", null, null),
      carl -> Row("Carl", Row(null), null),
      99999L -> Row(null, null, null)))
    val flatRows = Pull.pullFlat(db, more, spec).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).toSeq
    assert(flatRows.sortBy(_.toString) === Seq(
      (alice, "Alice", "Feeling good", "bob"), (alice, "Alice", "Feeling good", "bob"),
      (alice, "Alice", "Feeling good", null), (alice, "Alice", "Feeling good", null),
      (bob, "Bob", null, null), (carl, "Carl", null, null),
      (99999L, null, null, null)).sortBy(_.toString))
  }
}

package graft.ops

import graft.TestSpark
import graft.graph.GraphOps
import graft.sql.AgeFunctions
import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** Multimodal mapPartitions plumbing, Structured Streaming, and the
  * customer–order graph. */
class OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  test("multimodal: batch decode emits typed metadata per row") {
    val media = Multimodal.mediaFromDocuments(spark, sf)
    val metas = Multimodal.decodeBatch(media)
    val n = media.count()
    assert(metas.count() == n)
    val m = metas.filter(col("doc_id") === 0).head()
    assert(m.ok && m.n_bytes > 0 && m.width >= 16 && m.channels >= 1)
    // schema is the contract
    assert(metas.schema.fieldNames.toSeq ==
      Seq("doc_id", "n_bytes", "width", "height", "channels", "format", "ok"))
  }

  test("multimodal: resize subsamples payloads; frame sampling fans out") {
    val media = Multimodal.mediaFromDocuments(spark, sf).limit(20)
    val resized = Multimodal.resizeBatch(media, 4)
    val pairs = media.collect().map(r => r.doc_id -> r.payload.length).toMap
    resized.collect().foreach { r =>
      assert(r.payload.length == math.max(1, pairs(r.doc_id) / 4))
    }
    val frames = Multimodal.sampleFrames(media, frameBytes = 50, step = 2)
    assert(frames.count() > 0)
    assert(frames.schema.fieldNames.toSeq == Seq("doc_id", "frame_idx", "frame"))
    // every sampled frame is exactly frameBytes long
    assert(frames.filter(length(col("frame")) =!= 50).count() == 0)
  }

  test("multimodal: decodeReal decodes real PNG/JPEG/GIF bytes via ImageIO") {
    import java.awt.image.BufferedImage
    // PNG via the deterministic fixture generator: dims/bands predictable
    (0L until 48L).foreach { id =>
      val png = Multimodal.syntheticImage(id)
      assert(Multimodal.isRealImage(png), s"PNG magic missing for id=$id")
      val m = Multimodal.decodeReal(id, png)
      assert(m.ok, s"decode failed for id=$id")
      assert(m.width == 1 + (id % 16).toInt && m.height == 1 + (id % 12).toInt)
      val expectBands = (id % 3) match { case 0 => 3; case 1 => 1; case _ => 4 }
      assert(m.channels == expectBands && m.format == "png")
    }
    // JPEG and GIF through the same ImageIO boundary
    def encode(fmt: String, imgType: Int): Array[Byte] = {
      val img = new BufferedImage(5, 3, imgType)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    val jpg = Multimodal.decodeReal(1L, encode("jpg", BufferedImage.TYPE_INT_RGB))
    assert(jpg.ok && jpg.width == 5 && jpg.height == 3 && jpg.format.startsWith("jp"))
    val gif = Multimodal.decodeReal(2L, encode("gif", BufferedImage.TYPE_INT_RGB))
    assert(gif.ok && gif.width == 5 && gif.height == 3 && gif.format == "gif")
    // junk bytes: not routed as real, and decodeReal itself degrades to ok=false
    val junk = Array.tabulate[Byte](64)(_.toByte)
    assert(!Multimodal.isRealImage(junk))
    assert(!Multimodal.decodeReal(3L, junk).ok)
    // truncated PNG: magic matches but decode fails -> ok=false, not a throw
    val truncated = Multimodal.syntheticImage(0L).take(20)
    assert(Multimodal.isRealImage(truncated))
    assert(!Multimodal.decodeReal(4L, truncated).ok)
  }

  test("multimodal: decodeBatch routes real images to ImageIO, synthetic to fake") {
    import spark.implicits._
    val rows = spark.createDataset(Seq(
      Multimodal.MediaRow(100L, Multimodal.syntheticImage(100L)),
      Multimodal.MediaRow(101L, "plain text payload, not an image".getBytes("UTF-8"))))
    val metas = Multimodal.decodeBatch(rows).collect().sortBy(_.doc_id)
    // 100: real decode — dims from the generator contract, format "png"
    assert(metas(0).format == "png" && metas(0).ok)
    assert(metas(0).width == 1 + (100 % 16) && metas(0).height == 1 + (100 % 12))
    // 101: fake decode — header arithmetic over the byte length
    val n = "plain text payload, not an image".getBytes("UTF-8").length
    assert(metas(1).width == 16 + (n % 64) * 10 && metas(1).n_bytes == n)
  }

  test("multimodal: perceptualHashBatch matches the generator's pixel arithmetic") {
    import spark.implicits._
    // RGB (id%3==0) and ARGB (id%3==2) fixtures: getRGB returns the written
    // 24-bit value verbatim, so the aHash is predictable from the formula
    val ids = Seq(0L, 2L, 60L, 126L, 198L)
    val rows = spark.createDataset(ids.map(id =>
      Multimodal.MediaRow(id, Multimodal.syntheticImage(id))))
    val got = Multimodal.perceptualHashBatch(rows).collect()
      .map(r => r.doc_id -> r).toMap
    ids.foreach { id =>
      val w = 1 + (id % 16).toInt; val h = 1 + (id % 12).toInt
      val n = w * h
      val lums = (0 until n).map { i =>
        val x = i % w; val y = i / w
        val p = ((id * 2654435761L + x * 7 + y * 131) & 0xFFFFFF).toInt
        ((p >> 16) & 0xFF) * 299L + ((p >> 8) & 0xFF) * 587L + (p & 0xFF) * 114L
      }
      val sum = lums.sum
      var hash = 0L
      (0 until math.min(n, 60)).foreach(i => if (lums(i) * n > sum) hash |= 1L << i)
      val r = got(id)
      assert(r.width == w && r.height == h, s"dims for $id")
      assert(r.lum_sum == sum, s"lum_sum for $id: real decode drifted from formula")
      assert(r.phash == hash, s"phash for $id")
    }
  }

  test("multimodal: perceptualHashBatch emits a sentinel row for undecodable payloads") {
    import spark.implicits._
    // garbage bytes + a truncated PNG: neither may NPE the job (ADVICE r12)
    val png = Multimodal.syntheticImage(3L)
    val rows = spark.createDataset(Seq(
      Multimodal.MediaRow(500L, "not an image at all".getBytes("UTF-8")),
      Multimodal.MediaRow(501L, png.take(12)),
      Multimodal.MediaRow(502L, png)))
    val got = Multimodal.perceptualHashBatch(rows).collect()
      .map(r => r.doc_id -> r).toMap
    assert(got(500L).width == 0 && got(500L).phash == 0L)
    assert(got(501L).width == 0 && got(501L).lum_sum == 0L)
    assert(got(502L).width == 1 + (3 % 16) && got(502L).height == 1 + (3 % 12))
  }

  test("multimodal: parseWavBatch walks real RIFF chunks and rejects garbage") {
    import spark.implicits._
    // id 4: carries the junk LIST chunk (a 44-byte-offset parser fails);
    // id 7: plain layout; 600/601: garbage + truncated container
    val wav = Multimodal.syntheticWav(4L)
    val rows = spark.createDataset(Seq(
      Multimodal.MediaRow(4L, wav),
      Multimodal.MediaRow(7L, Multimodal.syntheticWav(7L)),
      Multimodal.MediaRow(600L, "RIFFnotawave".getBytes("US-ASCII")),
      Multimodal.MediaRow(601L, wav.take(30))))
    val got = Multimodal.parseWavBatch(rows).collect().map(r => r.doc_id -> r).toMap
    Seq(4L, 7L).foreach { id =>
      val r = got(id)
      assert(r.ok && r.channels == 1 && r.bits == 16, s"doc $id header")
      assert(r.sample_rate == 8000 + (id % 3) * 4000, s"doc $id rate")
      assert(r.n_samples == 256 + id % 256, s"doc $id sample count")
      // energy must equal the generator formula, summed directly
      val expect = (0L until r.n_samples).map { k =>
        val s = (id * 31 + k * 17) % 4096 - 2048; s * s
      }.sum
      assert(r.total_energy == expect, s"doc $id energy")
    }
    assert(!got(600L).ok && got(600L).n_samples == 0L)
    assert(!got(601L).ok)
  }

  test("multimodal: parseWavBatch rejects chunk sizes that overflow or overrun") {
    import spark.implicits._
    // a LIST chunk declaring size 0xF8FFFFFF: the 32-bit size wraps Int
    // negative — a naive `i += 8 + sz` spins forever (code-review r13)
    def wavWithChunk(sz: Long): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(32)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(24)
        .put("WAVE".getBytes("US-ASCII"))
      bb.put("LIST".getBytes("US-ASCII")).putInt((sz & 0xFFFFFFFFL).toInt)
      bb.put("INFO".getBytes("US-ASCII"))
      bb.array()
    }
    val rows = spark.createDataset(Seq(
      Multimodal.MediaRow(700L, wavWithChunk(0xF8FFFFFFL)), // wraps negative
      Multimodal.MediaRow(701L, wavWithChunk(0x7FFFFFF0L)), // 8+sz overflows
      Multimodal.MediaRow(702L, wavWithChunk(1000L))))      // overruns payload
    val got = Multimodal.parseWavBatch(rows).collect()
    assert(got.length == 3 && got.forall(r => !r.ok && r.n_samples == 0L),
      "oversized/overflowing chunk sizes must yield the ok=false sentinel")
  }

  test("multimodal: parseWavBatch sentinels non-PCM and multi-channel formats") {
    import spark.implicits._
    // a valid container whose fmt declares IEEE-float (tag 3) or stereo:
    // the 16-bit mono PCM sample loop would mis-sum both (ADVICE r13), so
    // they must get the ok=false sentinel, not a garbage energy
    def wavWithFmt(fmtTag: Short, channels: Short): Array[Byte] = {
      val pcm = new Array[Byte](8)
      val total = 4 + 24 + 8 + pcm.length
      val bb = java.nio.ByteBuffer.allocate(8 + total)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(total)
        .put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(fmtTag).putShort(channels)
        .putInt(8000).putInt(8000 * 2 * channels)
        .putShort((2 * channels).toShort).putShort(16)
      bb.put("data".getBytes("US-ASCII")).putInt(pcm.length).put(pcm)
      bb.array()
    }
    val rows = spark.createDataset(Seq(
      Multimodal.MediaRow(800L, wavWithFmt(3, 1)),  // IEEE float
      Multimodal.MediaRow(801L, wavWithFmt(2, 1)),  // ADPCM
      Multimodal.MediaRow(802L, wavWithFmt(1, 2)),  // stereo PCM
      Multimodal.MediaRow(803L, wavWithFmt(1, 1)))) // control: mono PCM
    val got = Multimodal.parseWavBatch(rows).collect().map(r => r.doc_id -> r).toMap
    Seq(800L, 801L, 802L).foreach { id =>
      assert(!got(id).ok && got(id).n_samples == 0L, s"doc $id must sentinel")
    }
    assert(got(803L).ok && got(803L).n_samples == 4L, "mono PCM control row")
  }

  test("multimodal: frameEnergy parses 16-bit LE PCM back to exact integer energy") {
    import spark.implicits._
    // kernel vs a direct reference over the generator contract
    val ids = Seq(0L, 7L, 255L, 1000L)
    val rows = spark.createDataset(ids.map(id =>
      Multimodal.MediaRow(id, Multimodal.syntheticPcm(id))))
    val got = Multimodal.frameEnergy(rows, 64).collect()
      .map(f => (f.doc_id, f.frame_idx) -> f.energy).toMap
    ids.foreach { id =>
      val n = 256 + (id % 256).toInt
      (0 until n / 64).foreach { f =>
        val want = (f * 64 until (f + 1) * 64).map { k =>
          val s = ((id * 31 + k.toLong * 17) % 4096) - 2048
          s * s
        }.sum
        assert(got((id, f)) == want, s"energy mismatch doc=$id frame=$f")
      }
    }
    // negative samples round-trip through the sign bit; odd trailing byte
    // and partial frames are dropped
    val neg = Array[Byte](0x00, 0x80.toByte, 0xFF.toByte, 0x7F, 1, 0) // -32768, 32767, 1
    val one = spark.createDataset(Seq(Multimodal.MediaRow(9L, neg)))
    val e = Multimodal.frameEnergy(one, 3).collect()
    assert(e.length == 1 &&
      e(0).energy == 32768L * 32768L + 32767L * 32767L + 1L)
    val partial = spark.createDataset(Seq(Multimodal.MediaRow(9L, neg :+ 0x11.toByte)))
    assert(Multimodal.frameEnergy(partial, 4).collect().isEmpty)
  }

  test("streaming: windowed rollup with watermark over MemoryStream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val events = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val agg = StreamingOps.hourlyRollup(events)
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("hourly_out").start()
    val t0 = Timestamp.valueOf("2024-01-01 10:15:00")
    val t1 = Timestamp.valueOf("2024-01-01 10:45:00")
    val t2 = Timestamp.valueOf("2024-01-01 11:10:00")
    val late = Timestamp.valueOf("2024-01-01 20:00:00") // advances watermark past 10-11
    mem.addData((1L, t0, 7L, "click", 1.5, "{}"), (2L, t1, 8L, "click", 2.5, "{}"),
      (3L, t2, 7L, "view", 9.0, "{}"))
    q.processAllAvailable()
    mem.addData((4L, late, 9L, "view", 1.0, "{}"))
    q.processAllAvailable()
    val rows = spark.table("hourly_out").collect()
    q.stop()
    // the 10:00 click window is closed by the watermark: n=2, 400 cents
    val closed = rows.filter(r => r.getAs[String]("event_type") == "click")
    assert(closed.length == 1)
    assert(closed(0).getAs[Long]("n") == 2L)
    assert(closed(0).getAs[Long]("value_cents") == 400L)
  }

  test("streaming: age_encrypt lifts onto a stream unchanged") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    AgeFunctions.register(spark)
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val events = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val enc = StreamingOps.encryptProps(events, graft.queries.CryptoQueries.pubA)
    val q = enc.writeStream.outputMode("append")
      .format("memory").queryName("enc_out").start()
    mem.addData((1L, Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "click", 1.0, """{"k": 5}"""))
    q.processAllAvailable()
    val out = spark.table("enc_out").collect()
    q.stop()
    assert(out.length == 1)
    val ct = out(0).getAs[Array[Byte]]("props_enc")
    assert(new String(ct.take(21), "UTF-8") == "age-encryption.org/v1")
    // decrypt round-trips through the batch UDF
    val dec = graft.core.AgeFormat.decrypt(ct,
      graft.core.AgeKeys.parseIdentity(graft.queries.CryptoQueries.privA).toOption.get)
    assert(new String(dec, "UTF-8") == """{"k": 5}""")
  }

  test("streaming: flatMapGroupsWithState sessionization closes on gaps") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingOps.{SessionEvent, SessionOut}
    val mem = MemoryStream[SessionEvent]
    val out = StreamingOps.sessionize(mem.toDS(), gapMs = 1800000L)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sessions_out").start()
    // user 1: two events 10 min apart (one session), then a 2-hour gap
    // closes it and starts session 1. Timestamps offset from epoch 0: an
    // event AT the initial watermark (0) is filtered as late.
    val base = 1000000L
    try {
      mem.addData(SessionEvent(1L, 1L, base), SessionEvent(1L, 2L, base + 600000L))
      q.processAllAvailable()
      mem.addData(SessionEvent(1L, 3L, base + 7800000L))
      q.processAllAvailable()
      val rows = spark.table("sessions_out").as[SessionOut].collect()
      assert(rows.toSeq == Seq(SessionOut(1L, 0L, 2L, 600000L)))
    } finally q.stop()
  }

  test("streaming: idle session flushes via event-time timeout when watermark passes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingOps.{SessionEvent, SessionOut}
    val mem = MemoryStream[SessionEvent]
    val out = StreamingOps.sessionize(mem.toDS(), gapMs = 1800000L)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sessions_idle_out").start()
    val base = 1000000L
    try {
      // user 1: two events, then goes idle forever
      mem.addData(SessionEvent(1L, 1L, base), SessionEvent(1L, 2L, base + 600000L))
      q.processAllAvailable()
      // user 2 far in the future advances the watermark past user 1's
      // gap (600000 + 1800000); the NEXT batch's timeout sweep flushes it
      mem.addData(SessionEvent(2L, 3L, base + 10000000L))
      q.processAllAvailable()
      mem.addData(SessionEvent(2L, 4L, base + 10100000L))
      q.processAllAvailable()
      val rows = spark.table("sessions_idle_out").as[SessionOut].collect()
      // user 1's idle session emitted WITHOUT any closing event from user 1;
      // user 2's session is still open (no emission)
      assert(rows.toSeq == Seq(SessionOut(1L, 0L, 2L, 600000L)))
    } finally q.stop()
  }

  test("streaming: dedupStream suppresses duplicates within the watermark window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val docs = mem.toDF().toDF("doc_id", "ts", "text")
    val out = StreamingOps.dedupStream(docs, watermarkDelay = "10 minutes")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      val t = (m: Int) => Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      mem.addData((1L, t(1), "alpha beta"), (2L, t(2), "alpha beta"), (3L, t(3), "gamma"))
      q.processAllAvailable()
      // duplicate within the window suppressed: 2 distinct texts survive
      assert(spark.table("dedup_out").count() == 2)
      // same text arriving long after the original's state expired is
      // re-emitted — state is bounded by the watermark, not corpus-global
      mem.addData((4L, Timestamp.valueOf("2024-01-01 12:00:00"), "noise moves watermark"))
      q.processAllAvailable()
      mem.addData((5L, Timestamp.valueOf("2024-01-01 12:01:00"), "alpha beta"))
      q.processAllAvailable()
      assert(spark.table("dedup_out")
        .filter(col("text") === "alpha beta").count() == 2)
    } finally q.stop()
  }

  test("streaming: LSH candidates find duplicate vectors; TTL expires state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingOps.{CandPair, VecEvent}
    val rnd = new scala.util.Random(11)
    val v = Array.fill(64)(rnd.nextGaussian().toFloat)
    val negV = v.map(x => -x)
    val mem = MemoryStream[VecEvent]
    val out = StreamingOps.lshCandidatesStream(mem.toDS(), ttlMs = 60000L)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("lsh_stream_out").start()
    val base = 1000000L
    try {
      // identical vectors arriving close together -> all 4 bands collide
      mem.addData(VecEvent(1L, base, v))
      q.processAllAvailable()
      mem.addData(VecEvent(2L, base + 1000, v))
      q.processAllAvailable()
      // negated vector flips every hyperplane sign -> zero shared bands
      mem.addData(VecEvent(3L, base + 2000, negV))
      q.processAllAvailable()
      val rows = spark.table("lsh_stream_out").as[CandPair].collect()
      assert(rows.forall(p => p.ida == 1L && p.idb == 2L))
      assert(rows.map(_.band).toSet == Set(0, 1, 2, 3))
      // the same vector again AFTER the TTL window: watermark moved far
      // ahead by an unrelated event, bucket state expired -> no new pair
      mem.addData(VecEvent(9L, base + 10000000L, negV)) // advances watermark
      q.processAllAvailable()
      mem.addData(VecEvent(4L, base + 10000001L, v))
      q.processAllAvailable()
      val after = spark.table("lsh_stream_out").as[CandPair].collect()
      assert(!after.exists(p => p.idb == 4L),
        "expired members must not pair with late duplicates")
    } finally q.stop()
  }

  test("graph: degrees match SQL group-by; one component per customer") {
    val deg = GraphOps.customerDegrees(spark, sf)
    val sqlDeg = spark.read.parquet(s"$sf/orders.parquet")
      .groupBy(col("o_custkey")).agg(count(lit(1)).cast("int").as("n"))
    val joined = deg.join(sqlDeg, deg("c_custkey") === sqlDeg("o_custkey"))
    assert(joined.filter(col("n_orders") =!= col("n")).count() == 0)
    assert(deg.count() == sqlDeg.count())
    // graph03's oracle identity: every order hangs off one customer; it
    // holds on the driver finish and, with the threshold at -1, the rounds
    val customers = spark.read.parquet(s"$sf/customer.parquet").count()
    assert(GraphOps.componentCount(spark, sf) == customers)
    graft.graph.JobBudget.withConf(spark, Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1")) {
      assert(GraphOps.componentCount(spark, sf) == customers, "on the rounds path")
    }
  }

  test("multimodal: parsePngBatch walks real chunks and CRC-catches corruption") {
    import spark.implicits._
    // clean fixtures across all three color types (RGB=2 / GRAY=0 / ARGB=6)
    val clean = Seq(0L, 1L, 2L, 21L, 42L).map(id =>
      Multimodal.MediaRow(id, Multimodal.syntheticImage(id)))
    // corruption classes the walker must sentinel, never throw or loop:
    val flipped = Multimodal.syntheticImage(5L)
    flipped(16) = (flipped(16) ^ 0x01).toByte // IHDR width bit -> CRC mismatch
    val idatFlip = Multimodal.syntheticImage(6L)
    idatFlip(idatFlip.length - 20) =
      (idatFlip(idatFlip.length - 20) ^ 0x40).toByte // body byte -> CRC mismatch
    val trailing = Multimodal.syntheticImage(7L) ++ Array[Byte](1, 2, 3)
    val oversize = {
      // valid signature, then a chunk declaring length 0xF8FFFFFF: a naive
      // `i += 12 + len` wraps Int negative (the parseWavBatch lesson)
      val sig = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)
        .map(_.toByte)
      sig ++ Array[Byte](0xF8.toByte, -1, -1, -1) ++
        "IHDR".getBytes("US-ASCII") ++ new Array[Byte](21)
    }
    val rows = spark.createDataset(clean ++ Seq(
      Multimodal.MediaRow(500L, flipped),
      Multimodal.MediaRow(501L, idatFlip),
      Multimodal.MediaRow(502L, trailing),
      Multimodal.MediaRow(503L, oversize),
      Multimodal.MediaRow(504L, Multimodal.syntheticImage(8L).take(30)),
      Multimodal.MediaRow(505L, "not a png at all, nope".getBytes("US-ASCII"))))
    val got = Multimodal.parsePngBatch(rows).collect().map(r => r.doc_id -> r).toMap
    Seq(0L, 1L, 2L, 21L, 42L).foreach { id =>
      val r = got(id)
      assert(r.intact, s"doc $id should walk clean")
      assert(r.width == 1 + (id % 16).toInt && r.height == 1 + (id % 12).toInt,
        s"doc $id dims")
      assert(r.bit_depth == 8, s"doc $id depth")
      val ct = (id % 3) match { case 0 => 2; case 1 => 0; case _ => 6 }
      assert(r.color_type == ct, s"doc $id color type")
    }
    Seq(500L, 501L, 502L, 503L, 504L, 505L).foreach { id =>
      assert(!got(id).intact && got(id).width == 0,
        s"doc $id must get the zeroed sentinel")
    }
  }

  test("multimodal: parseMp4Batch walks the box tree, largesize, size-0, and sentinels corruption") {
    import spark.implicits._
    // clean fixtures covering every generator regime: largesize (id%4==0),
    // free box (id%3==0), 1..3 traks
    val cleanIds = Seq(0L, 1L, 2L, 3L, 4L, 12L, 17L)
    val clean = cleanIds.map(id => Multimodal.MediaRow(id, Multimodal.syntheticMp4(id)))
    // size == 0: per ISO-BMFF the box extends to END of file — rewrite the
    // (non-largesize) mdat size field of doc 1 to 0; the payload is
    // unchanged, so all fields must still parse identically
    val sizeZero = {
      val p = Multimodal.syntheticMp4(1L)
      val n = 64 + 1 // doc 1 mdat payload length
      val off = p.length - n - 8 // start of the u32 size field
      p(off) = 0; p(off + 1) = 0; p(off + 2) = 0; p(off + 3) = 0
      p
    }
    // corruption classes: moov size overrun (the mm13 gate flip), a
    // truncated largesize header, a truncated file, and not-bmff bytes
    val moovFlip = Multimodal.syntheticMp4(2L)
    moovFlip(20) = (moovFlip(20) | 0x20).toByte
    val truncLarge = Multimodal.syntheticMp4(4L).dropRight(70) // cuts into mdat payload
    val rows = spark.createDataset(clean ++ Seq(
      Multimodal.MediaRow(600L, sizeZero),
      Multimodal.MediaRow(601L, moovFlip),
      Multimodal.MediaRow(602L, truncLarge),
      Multimodal.MediaRow(603L, Multimodal.syntheticMp4(5L).take(10)),
      Multimodal.MediaRow(604L, "never was an mp4".getBytes("US-ASCII"))))
    val got = Multimodal.parseMp4Batch(rows).collect().map(r => r.doc_id -> r).toMap
    cleanIds.foreach { id =>
      val r = got(id)
      assert(r.intact, s"doc $id should walk clean")
      assert(r.timescale == 1000 + (id % 4).toInt * 500, s"doc $id timescale")
      assert(r.duration == 1000 + (id % 9000).toInt, s"doc $id duration")
      val nt = 1 + (id % 3).toInt
      assert(r.n_traks == nt && r.trak_id_sum == nt.toLong * (nt + 1) / 2,
        s"doc $id traks")
      val n = 64 + (id % 64).toInt
      assert(r.mdat_bytes == n.toLong, s"doc $id mdat bytes")
      assert(r.mdat_sum == (0 until n).map(k => (id * 31 + k * 17) % 251).sum,
        s"doc $id mdat sum")
    }
    // size-0 last box: identical fields to the unmodified doc 1
    assert(got(600L).intact && got(600L).copy(doc_id = 1L) == got(1L),
      "size-0 mdat must parse to-end identically")
    Seq(601L, 602L, 603L, 604L).foreach { id =>
      assert(!got(id).intact && got(id).timescale == 0,
        s"doc $id must get the zeroed sentinel")
    }
  }

  test("multimodal: parseJpegBatch honors stuffing/restart escapes and sentinels corruption") {
    import spark.implicits._
    // clean fixtures covering every generator regime: restarts (id%4==0),
    // comment (id%3==0), 1 vs 3 components (id%2), min/max entropy sizes
    val cleanIds = Seq(0L, 1L, 2L, 3L, 4L, 12L, 63L, 64L)
    val clean = cleanIds.map(id => Multimodal.MediaRow(id, Multimodal.syntheticJpeg(id)))
    def sofAt(p: Array[Byte]): Int = (0 until p.length - 1).find(j =>
      (p(j) & 0xFF) == 0xFF && (p(j + 1) & 0xFF) == 0xC0).get
    // the mm14 gate flip: SOF0 length bit -> next segment misses FF
    val lenFlip = Multimodal.syntheticJpeg(5L)
    lenFlip(sofAt(lenFlip) + 3) = (lenFlip(sofAt(lenFlip) + 3) ^ 0x01).toByte
    // truncation inside entropy data (EOI never lands exactly at end)
    val truncated = Multimodal.syntheticJpeg(6L).dropRight(5)
    // trailing junk after EOI
    val trailing = Multimodal.syntheticJpeg(7L) ++ Array[Byte](9, 9)
    // a bare FF terminating the payload mid-entropy must not read past end
    val danglingFf = Multimodal.syntheticJpeg(8L).dropRight(2) :+ 0xFF.toByte
    val rows = spark.createDataset(clean ++ Seq(
      Multimodal.MediaRow(700L, lenFlip),
      Multimodal.MediaRow(701L, truncated),
      Multimodal.MediaRow(702L, trailing),
      Multimodal.MediaRow(703L, danglingFf),
      Multimodal.MediaRow(704L, "not a jpeg either".getBytes("US-ASCII"))))
    val got = Multimodal.parseJpegBatch(rows).collect().map(r => r.doc_id -> r).toMap
    cleanIds.foreach { id =>
      val r = got(id)
      assert(r.intact, s"doc $id should walk clean")
      assert(r.width == 1 + (id % 16).toInt && r.height == 1 + (id % 12).toInt,
        s"doc $id dims")
      assert(r.n_components == (if (id % 2 == 0) 3 else 1), s"doc $id comps")
      assert(r.has_comment == (id % 3 == 0), s"doc $id comment")
      assert(r.qt_sum == (0 until 64).map(j => 1 + ((id + 3 * j) % 99)).sum,
        s"doc $id qt sum")
      val n = 64 + (id % 64).toInt
      assert(r.entropy_bytes == n.toLong, s"doc $id entropy bytes")
      assert(r.entropy_sum == (0 until n).map(k =>
        if (k % 7 == 0) 255L else (id * 31 + k * 17) % 251).sum,
        s"doc $id entropy sum (stuffed FFs must count as 255-valued data)")
      assert(r.n_restarts == (if (id % 4 == 0) ((n - 1) / 16).toLong else 0L),
        s"doc $id restarts")
    }
    Seq(700L, 701L, 702L, 703L, 704L).foreach { id =>
      assert(!got(id).intact && got(id).width == 0 && got(id).entropy_sum == 0,
        s"doc $id must get the zeroed sentinel")
    }
  }
}

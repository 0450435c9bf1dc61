package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.EventStreams
import graft.streaming.EventStreams.{EventRow, SessionOut}

/** Drives the streaming plans with MemoryStream and checks them against the
  * equivalent batch computation (SURVEY.md §2.9 extension scope).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ev(id: Long, minute: Int, user: Long, typ: String = "click"): EventRow =
    EventRow(id, new Timestamp(1704067200000L + minute * 60000L), user, typ, 1.0)

  test("streaming windowed counts equal the batch plan on the same data") {
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      ev(1, 5, 1), ev(2, 20, 1, "view"), ev(3, 61, 2), ev(4, 62, 2), ev(5, 125, 3))
    val stream = MemoryStream[EventRow]
    stream.addData(events: _*)
    val q = EventStreams.windowedCounts(stream.toDF())
      .writeStream.format("memory").queryName("wc_out")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("wc_out")
      .select(col("window_start").cast("long"), col("event_type"), col("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val batch = EventStreams.windowedCounts(events.toDF())
      .select(col("window_start").cast("long"), col("event_type"), col("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("sessionizeAvailableNow equals the batch sessionization on real data") {
    // the full file-stream + sentinel-flush harness at sf0.001 — the same
    // equality the sf0.01 oracle row (stream_sessionize) pins, kept here
    // so `sbt test` catches harness regressions without the oracle
    val dir = "/root/testdata/sf0.001"
    val streamed = EventStreams.sessionizeAvailableNow(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val batch = graft.queries.EventQueries.eventsSessionize(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq)
  }

  test("stateful sessionize emits closed sessions across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[EventRow]
    val q = EventStreams.sessionize(spark, stream.toDS(), useTimeout = false)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      // batch 1: user 1 has two events 10 min apart (one open session)
      stream.addData(ev(1, 0, 1), ev(2, 10, 1))
      q.processAllAvailable()
      // batch 2: 40 min gap -> closes session 1, opens session 2;
      // user 2 starts its own session
      stream.addData(ev(3, 50, 1), ev(4, 55, 2))
      q.processAllAvailable()
    } finally q.stop()
    val closed = spark.table("sess_out").as[SessionOut].collect()
    assert(closed.length == 1)
    val s = closed.head
    assert(s.user_id == 1L && s.n_events == 2L)
    assert(s.end_micros - s.start_micros == 10L * 60 * 1000000)
  }

  test("scd2Runs carries the open run across micro-batches; sentinel flushes is_current") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventStreams.Scd2Out
    val stream = MemoryStream[EventRow]
    val q = EventStreams.scd2Runs(spark, stream.toDS())
      .writeStream.format("memory").queryName("scd2_out")
      .outputMode("append").start()
    try {
      // batch 1: click run (2 events) closed by the view at minute 10
      stream.addData(ev(1, 0, 1, "click"), ev(2, 5, 1, "click"), ev(3, 10, 1, "view"))
      q.processAllAvailable()
      // batch 2: the view at 20 must CONTINUE the open view run from
      // batch 1 (state carry), then purchase closes it
      stream.addData(ev(4, 20, 1, "view"), ev(5, 30, 1, "purchase"))
      q.processAllAvailable()
      stream.addData(ev(-2, 999, 1, "__sentinel"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("scd2_out").as[Scd2Out].collect().sortBy(_.vf_micros)
    assert(rows.length == 3, rows.mkString("; "))
    assert(rows(0).state == "click" && rows(0).n_events == 2 &&
      rows(0).vt_micros.contains(rows(1).vf_micros) && !rows(0).is_current)
    assert(rows(1).state == "view" && rows(1).n_events == 2 &&
      rows(1).vt_micros.contains(rows(2).vf_micros) && !rows(1).is_current,
      "open run must survive the batch boundary")
    assert(rows(2).state == "purchase" && rows(2).n_events == 1 &&
      rows(2).vt_micros.isEmpty && rows(2).is_current)
  }

  test("scd2AvailableNow equals the batch SCD2 history on real data") {
    val dir = "/root/testdata/sf0.001"
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getString(1), r.getString(2),
        Option(r.getString(3)), r.getLong(4), r.getBoolean(5))
    val streamed = EventStreams.scd2AvailableNow(spark, dir).collect().map(key)
    val batch = graft.queries.EventQueries.scd2History(spark, dir).collect().map(key)
    assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq)
  }

  test("funnelReach: late-arriving earlier view re-admits a click; sentinel flushes") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[EventRow]
    val q = EventStreams.funnelReach(spark, stream.toDS())
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("append").start()
    try {
      // batch 1: user 1's click at minute 5 and view at minute 10 — at this
      // point the click precedes every known view and would NOT convert
      stream.addData(ev(1, 5, 1, "click"), ev(2, 10, 1, "view"))
      q.processAllAvailable()
      // batch 2: a LATE view at minute 2 arrives — now the click at 5 is
      // strictly after a first view, so the user reaches stage 2. A greedy
      // per-event update would have discarded the click forever.
      // user 2: purchase only — stage 0 (never entered the funnel).
      stream.addData(ev(3, 2, 1, "view"), ev(4, 3, 2, "purchase"))
      q.processAllAvailable()
      assert(spark.table("funnel_out").isEmpty) // nothing emits pre-sentinel
      stream.addData(ev(-2, 999, 1, "__sentinel"), ev(-3, 999, 2, "__sentinel"))
      q.processAllAvailable()
    } finally q.stop()
    val reach = spark.table("funnel_out")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(reach == Map(1L -> 2, 2L -> 0))
  }

  test("append-mode watermark drops events that arrive past the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[EventRow]
    val q = EventStreams.windowedCounts(stream.toDF(), watermark = "30 minutes")
      .writeStream.format("memory").queryName("wm_out")
      .outputMode("append").start()
    try {
      stream.addData(ev(1, 5, 1), ev(2, 10, 1), ev(3, 100, 2))
      q.processAllAvailable() // watermark after this batch: 100-30 = 70 min
      // ev 4 (minute 15) is behind the 70-min watermark -> must be dropped;
      // ev 5 advances the watermark to 200 min
      stream.addData(ev(4, 15, 1), ev(5, 230, 3))
      q.processAllAvailable() // emits finalized window [0,60) — without ev 4
      stream.addData(ev(6, 400, 4))
      q.processAllAvailable() // watermark 200 finalizes window [60,120)
    } finally q.stop()
    val out = spark.table("wm_out")
      .select(((col("window_start").cast("long") - 1704067200L) / 60)
        .cast("long").as("m"), col("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out.get(0L).contains(2L),
      s"late event leaked into the closed [0,60) window: $out")
    assert(out.get(60L).contains(1L), s"window [60,120) not finalized: $out")
  }

  test("file-source streaming: parquet dir drives the windowed plan") {
    val srcDir = java.nio.file.Files.createTempDirectory("graft_stream_src").toString
    val batch = Seq(ev(1, 5, 1), ev(2, 20, 1, "view"), ev(3, 61, 2)).toDF()
    batch.coalesce(1).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream.schema(batch.schema).parquet(srcDir)
    val q = EventStreams.windowedCounts(stream)
      .writeStream.format("memory").queryName("fs_out")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val n = spark.table("fs_out").agg(sum("n")).head().getLong(0)
    assert(n == 3L)
  }

  test("streaming parquet sink with checkpoint: exactly-once file output") {
    implicit val sqlCtx = spark.sqlContext
    val outDir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val stream = MemoryStream[EventRow]
    val q = stream.toDF()
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      stream.addData(ev(1, 1, 1), ev(2, 2, 1))
      q.processAllAvailable()
      stream.addData(ev(3, 3, 2))
      q.processAllAvailable()
    } finally q.stop()
    val back = spark.read.parquet(outDir)
    assert(back.count() == 3)
    assert(back.select("event_id").collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 2L, 3L)))
  }

  test("stream-stream interval join pairs purchases with prior clicks only") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[EventRow]
    val purchases = MemoryStream[EventRow]
    val q = EventStreams.clickToPurchase(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("ss_join")
      .outputMode("append").start()
    try {
      clicks.addData(ev(1, 0, 1), ev(2, 100, 1))
      purchases.addData(ev(10, 20, 1, "purchase"), ev(11, 200, 2, "purchase"))
      q.processAllAvailable()
    } finally q.stop()
    val pairs = spark.table("ss_join").select("click_id", "purchase_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // purchase 10 is 20 min after click 1 (same user) — the only valid pair:
    // purchase 11 belongs to a user with no click, and click 2 has no
    // purchase in [click_ts, click_ts + 30 min]
    assert(pairs == Set((1L, 10L)), s"got $pairs")
  }

  test("streaming exact dedup: dropDuplicates removes repeats across batches") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[EventRow]
    val q = stream.toDF()
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id")
      .writeStream.format("memory").queryName("dd_out")
      .outputMode("append").start()
    try {
      stream.addData(ev(1, 1, 1), ev(2, 2, 1))
      q.processAllAvailable()
      stream.addData(ev(2, 2, 1), ev(3, 3, 2)) // event 2 is a replay
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("dd_out").select("event_id")
      .collect().map(_.getLong(0)).sorted
    assert(ids.sameElements(Array(1L, 2L, 3L)))
  }

  test("multimodal frame sampling: geometry matches hand-computed windows") {
    val docs = Seq((1L, "a" * 300, "en"), (2L, "b" * 127, "en"), (3L, "c" * 384, "de"))
      .toDF("doc_id", "text", "lang")
    val media = graft.operators.Multimodal.mediaFromDocuments(docs)
    val idx = graft.operators.Multimodal.frameIndex(media, 256, 128)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // 300 bytes -> 1 frame; 127 -> none; 384 -> frames at offsets 0 and 128
    assert(idx == Set((1L, 0L, 0L), (3L, 0L, 0L), (3L, 1L, 128L)))
    val feats = graft.operators.Multimodal.frameFeatures(spark, media, 256, 128)
      .collect().map(f => (f.media_id, f.frame_idx) -> f.mean_byte).toMap
    assert(feats.keySet == Set((1L, 0L), (3L, 0L), (3L, 1L)))
    assert(feats((1L, 0L)) == 'a'.toInt.toDouble)
    assert(feats((3L, 1L)) == 'c'.toInt.toDouble)
  }

  test("multimodal stub features: histogram sums to 1, batch shape preserved") {
    val docs = Seq((1L, "aaab", "en"), (2L, "", "de"))
      .toDF("doc_id", "text", "lang")
    val media = graft.operators.Multimodal.mediaFromDocuments(docs)
    val feats = graft.operators.Multimodal.extractFeatures(spark, media)
      .collect().map(f => f.media_id -> f).toMap
    assert(feats(1L).n_bytes == 4)
    assert(math.abs(feats(1L).features.sum - 1.0) < 1e-12)
    // 'a' = 97 -> bucket 1 (97 % 16), three of four bytes
    assert(math.abs(feats(1L).features(97 % 16) - 0.75) < 1e-12)
    assert(feats(2L).features.forall(_ == 0.0))
  }

  /** A 3x2 24-bpp bottom-up BMP with known pixels and 4-byte row padding
    * (3 px * 3 B = 9 B -> rows pad to 12). Top row (in image space):
    * red, green, blue; bottom row: black, white, mid-gray.
    */
  private def bmpFixture(): Array[Byte] = {
    val rowBytes = 12
    val pixelOff = 54
    val size = pixelOff + rowBytes * 2
    val b = java.nio.ByteBuffer.allocate(size)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(size).putInt(0).putInt(pixelOff)
    b.putInt(40).putInt(3).putInt(2) // BITMAPINFOHEADER, w=3, h=2 bottom-up
    b.putShort(1).putShort(24).putInt(0).putInt(rowBytes * 2) // planes,bpp,BI_RGB,imgsize
    b.putInt(2835).putInt(2835).putInt(0).putInt(0)
    // stored BGR, bottom row FIRST (bottom-up): black, white, gray(120)
    b.put(Array[Byte](0, 0, 0, -1, -1, -1, 120, 120, 120, 0, 0, 0))
    // top row: red(255,0,0) green(0,255,0) blue(0,0,255) as BGR + pad
    b.put(Array[Byte](0, 0, -1, 0, -1, 0, -1, 0, 0, 0, 0, 0))
    b.array()
  }

  /** Mono 16-bit PCM WAV, 4 known samples, plus a LIST chunk the walker
    * must skip.
    */
  private def wavFixture(): Array[Byte] = {
    val samples = Array[Short](0, 1000, -32768, 32767)
    val dataSize = samples.length * 2
    val listSize = 4
    val size = 12 + (8 + listSize) + (8 + 16) + (8 + dataSize)
    val b = java.nio.ByteBuffer.allocate(size)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes).putInt(size - 8).put("WAVE".getBytes)
    b.put("LIST".getBytes).putInt(listSize).put("INFO".getBytes) // skipped
    b.put("fmt ".getBytes).putInt(16)
    b.putShort(1).putShort(1).putInt(8000).putInt(16000).putShort(2).putShort(16)
    b.put("data".getBytes).putInt(dataSize)
    samples.foreach(b.putShort)
    b.array()
  }

  test("BMP decode: real pixels out of a bottom-up padded 24-bpp file") {
    val img = graft.operators.Multimodal.decodeBmp(bmpFixture()).get
    assert(img.width == 3 && img.height == 2)
    // top-down row-major RGB
    val px = img.rgb.map(_ & 0xff).grouped(3).map(_.toSeq).toSeq
    assert(px == Seq(Seq(255, 0, 0), Seq(0, 255, 0), Seq(0, 0, 255),
      Seq(0, 0, 0), Seq(255, 255, 255), Seq(120, 120, 120)))
    // luminance histogram: lumas are 85,85,85,0,255,120 -> buckets 5,5,5,0,15,7
    val f = graft.operators.Multimodal.decodeFeatures(bmpFixture())
    assert(f(5) == 3.0 / 6 && f(0) == 1.0 / 6 && f(15) == 1.0 / 6 && f(7) == 1.0 / 6)
    assert(math.abs(f.sum - 1.0) < 1e-12)
  }

  test("WAV decode: real PCM samples, LIST chunk skipped, amplitude histogram") {
    val au = graft.operators.Multimodal.decodeWav(wavFixture()).get
    assert(au.sampleRate == 8000 && au.channels == 1)
    assert(au.samples.toSeq == Seq[Short](0, 1000, -32768, 32767))
    // amplitude buckets: (s+32768)/4096 -> 8, 8, 0, 15
    val f = graft.operators.Multimodal.decodeFeatures(wavFixture())
    assert(f(8) == 0.5 && f(0) == 0.25 && f(15) == 0.25)
  }

  /** The bmpFixture's pixel pattern as an ImageIO-encoded payload. */
  private def imageIoFixture(format: String): Array[Byte] = {
    val px = Seq((255, 0, 0), (0, 255, 0), (0, 0, 255),
      (0, 0, 0), (255, 255, 255), (120, 120, 120))
    val bi = new java.awt.image.BufferedImage(3, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    px.zipWithIndex.foreach { case ((r, g, b), i) =>
      bi.setRGB(i % 3, i / 3, (r << 16) | (g << 8) | b)
    }
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(bi, format, out), s"no $format writer")
    out.toByteArray
  }

  test("PNG decode via javax.imageio: lossless pixels match the BMP fixture's") {
    val png = imageIoFixture("png")
    val img = graft.operators.Multimodal.decodeImageIO(png).get
    assert(img.width == 3 && img.height == 2)
    // PNG is lossless: decoded RGB must equal the source pattern EXACTLY,
    // i.e. the same bytes the BMP decoder emits for the same image
    assert(img.rgb.toSeq ==
      graft.operators.Multimodal.decodeBmp(bmpFixture()).get.rgb.toSeq)
    // and therefore the same luminance histogram end to end
    val f = graft.operators.Multimodal.decodeFeatures(png)
    assert(f(5) == 3.0 / 6 && f(0) == 1.0 / 6 && f(15) == 1.0 / 6 && f(7) == 1.0 / 6)
  }

  test("pngFromLumas round-trips pixel-exact; BMP and PNG hash identically") {
    val lumas = Array.tabulate(32)(i => (i * 37 + 11) % 256)
    val png = graft.operators.Multimodal.pngFromLumas(lumas, 8)
    val img = graft.operators.Multimodal.decodeImage(png).get
    assert(img.width == 8 && img.height == 4)
    assert((0 until 32).map(i => img.rgb(3 * i) & 0xff) == lumas.toSeq)
    // the format is transport: same pixels -> same perceptual hash
    val viaBmp = graft.operators.Multimodal.decodeImage(
      graft.operators.Multimodal.bmpFromLumas(lumas, 8)).get
    assert(graft.operators.Multimodal.averageHash32(img) ==
      graft.operators.Multimodal.averageHash32(viaBmp))
  }

  test("JPEG decode via javax.imageio: solid color lands in its luma bucket") {
    // lossy codec — pin what survives quantization: a solid mid-gray
    // decodes within a few counts of (120,120,120), so every luma stays
    // inside bucket 7 (112..127) and the histogram is a point mass
    val bi = new java.awt.image.BufferedImage(8, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 64).foreach(i => bi.setRGB(i % 8, i / 8, (120 << 16) | (120 << 8) | 120))
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(bi, "jpg", out))
    val jpeg = out.toByteArray
    val img = graft.operators.Multimodal.decodeImageIO(jpeg).get
    assert(img.width == 8 && img.height == 8)
    assert(img.rgb.forall(b => math.abs((b & 0xff) - 120) <= 4),
      "solid-gray JPEG should decode within +-4 of the source value")
    val f = graft.operators.Multimodal.decodeFeatures(jpeg)
    assert(f(7) == 1.0, f.toSeq.toString)
    // decode is deterministic within this JVM: two runs, identical bytes
    assert(graft.operators.Multimodal.decodeImageIO(jpeg).get.rgb.toSeq ==
      img.rgb.toSeq)
  }

  test("bmpFromLumas round-trips through the real decoder; aHash is exact") {
    // encoder -> decoder round trip: gray pixels come back bit-exact,
    // top-down order preserved (negative-height BMP)
    val lumas = Array(0, 255, 7, 120, 64, 200, 33, 1,
      16, 48, 80, 112, 144, 176, 208, 240,
      9, 18, 27, 36, 45, 54, 63, 72,
      81, 90, 99, 108, 117, 126, 135, 250)
    val bmp = graft.operators.Multimodal.bmpFromLumas(lumas, 8)
    val img = graft.operators.Multimodal.decodeBmp(bmp).get
    assert(img.width == 8 && img.height == 4)
    val back = (0 until 32).map(i => img.rgb(3 * i) & 0xff)
    assert(back == lumas.toSeq, back.toString)
    // aHash: integer mean of the 32 lumas; bit j iff luma_j > mean
    val mean = lumas.sum / 32
    val expected = (0 until 32).filter(lumas(_) > mean)
      .foldLeft(0L)((h, j) => h | (1L << j))
    assert(graft.operators.Multimodal.averageHash32(img) == expected)
    // identical images pair at hamming 0; a 1-pixel flip across the mean
    // moves exactly one bit
    val flipped = lumas.clone(); flipped(5) = 0 // 200 -> 0 crosses the mean
    val img2 = graft.operators.Multimodal
      .decodeBmp(graft.operators.Multimodal.bmpFromLumas(flipped, 8)).get
    val d = java.lang.Long.bitCount(
      graft.operators.Multimodal.averageHash32(img) ^
        graft.operators.Multimodal.averageHash32(img2))
    // flipping one pixel can also shift the mean by at most 200/32 -> a
    // handful of near-mean bits; assert small, nonzero
    assert(d >= 1 && d <= 4, s"hamming $d")
  }

  test("extractFeatures dispatches: BMP/WAV payloads get real decode, text the stub") {
    import org.apache.spark.sql.functions.{col, lit, typedLit}
    val rows = Seq(
      (1L, "image/bmp", bmpFixture()),
      (2L, "audio/wav", wavFixture()),
      (3L, "text/en", "aaab".getBytes("UTF-8")),
      (4L, "image/png", imageIoFixture("png")))
      .toDF("media_id", "kind", "payload")
    val feats = graft.operators.Multimodal.extractFeatures(spark, rows)
      .collect().map(f => f.media_id -> f.features).toMap
    assert(feats(1L)(5) == 0.5) // luminance histogram, not byte histogram
    assert(feats(2L)(8) == 0.5) // amplitude histogram
    assert(feats(3L)(97 % 16) == 0.75) // stub byte histogram unchanged
    assert(feats(4L).toSeq == feats(1L).toSeq) // PNG == BMP of the same image
    // truncated/garbage payloads that START like BMP/WAV fall back safely
    assert(graft.operators.Multimodal.decodeBmp("BMgarbage".getBytes).isEmpty)
    assert(graft.operators.Multimodal.decodeWav("RIFFxxxxWAVE".getBytes).isEmpty)
  }

  test("AVI DIB round-trip: frames decode bit-exact; container length pinned") {
    val m = graft.operators.Multimodal
    val frames = Seq(
      Array.tabulate(32)(i => (i * 37 + 11) % 256),
      Array.tabulate(32)(i => (255 - i * 7 + 512) % 256),
      Array.fill(32)(0))
    val avi = m.aviFromLumaFrames(frames, 8)
    // 12 RIFF + 200 hdrl (avih 64 + strl 124 + 12) + 324 movi (12 + 3*104)
    assert(avi.length == 536, s"container length ${avi.length}")
    val v = m.decodeAvi(avi).get
    assert(v.width == 8 && v.height == 4 && v.frames.length == 3)
    frames.zip(v.frames).foreach { case (lumas, rgb) =>
      val back = (0 until 32).map(i => rgb(3 * i) & 0xff)
      assert(back == lumas.toSeq, back.toString)
      // gray: all three channels equal
      assert((0 until 96).forall(i => rgb(i) == rgb(3 * (i / 3))))
    }
    // dispatch: decodeFeatures pools a luma histogram over ALL frames
    val f = m.decodeFeatures(avi)
    val expected = new Array[Double](16)
    frames.flatten.foreach(l => expected(l / 16) += 1.0 / 96)
    assert((0 until 16).forall(j => math.abs(f(j) - expected(j)) < 1e-12),
      f.toSeq.toString)
    // RIFF cousins and garbage don't decode as video
    assert(m.decodeAvi(wavFixture()).isEmpty)
    assert(m.decodeAvi("RIFFxxxxAVI garbage".getBytes).isEmpty)
    assert(m.decodeWav(avi).isEmpty)
  }

  test("MJPG AVI: JPEG frames decode through the JDK codec inside the container") {
    val m = graft.operators.Multimodal
    def solidJpeg(gray: Int): Array[Byte] = {
      val bi = new java.awt.image.BufferedImage(8, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until 64).foreach(i =>
        bi.setRGB(i % 8, i / 8, (gray << 16) | (gray << 8) | gray))
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(bi, "jpg", out))
      out.toByteArray
    }
    val avi = m.aviFromJpegFrames(Seq(solidJpeg(120), solidJpeg(200)), 8, 8)
    val v = m.decodeAvi(avi).get
    assert(v.width == 8 && v.height == 8 && v.frames.length == 2)
    // lossy codec: pin what survives quantization — solid frames stay
    // within a few counts of their source gray, each in its own bucket
    assert(v.frames(0).forall(b => math.abs((b & 0xff) - 120) <= 4))
    assert(v.frames(1).forall(b => math.abs((b & 0xff) - 200) <= 4))
    val f = m.decodeFeatures(avi)
    assert(f(7) == 0.5 && f(12) == 0.5, f.toSeq.toString) // 112..127, 192..207
  }
  test("checkpoint resume: second AvailableNow run processes only new files, totals stay exact") {
    import java.nio.file.Files
    val srcDir = Files.createTempDirectory("graft_ckpt_src").toString
    val ckpt = Files.createTempDirectory("graft_ckpt_meta").toString
    val outDir = Files.createTempDirectory("graft_ckpt_out").toString
    val schema = Seq(ev(0, 0, 0)).toDF().schema

    def runOnce(): Unit = {
      val src = spark.readStream.schema(schema).parquet(srcDir)
      val q = EventStreams.windowedCounts(src).writeStream
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("overwrite").parquet(outDir)
        }
        .start()
      q.awaitTermination()
    }

    // run 1: two events in window 0
    Seq(ev(1, 5, 1), ev(2, 20, 1)).toDF()
      .write.mode("append").parquet(srcDir)
    runOnce()
    // run 2 resumes from the SAME checkpoint: only the new file is read,
    // but state carries the old counts — window 0 must show all 3 events,
    // not a double-counted 4 or a restarted 1
    Seq(ev(3, 25, 2)).toDF().write.mode("append").parquet(srcDir)
    runOnce()

    val counts = spark.read.parquet(outDir)
      .select(col("window_start").cast("long"), col("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 3L,
      s"expected exactly-once resume totals, got $counts")
  }

  test("dropDuplicatesWithinWatermark: dedup state is bounded, in-window replays drop") {
    import org.apache.spark.sql.streaming.Trigger
    // dropDuplicates keeps EVERY key forever (unbounded state);
    // WithinWatermark evicts keys once the watermark passes them — the
    // scale-safe form when replays can only arrive within a bounded delay.
    val src = java.nio.file.Files.createTempDirectory("graft_ddww").toString
    val sink = java.nio.file.Files.createTempDirectory("graft_ddww_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ddww_ck").toString
    def ev(id: Long, minute: Int) =
      (id, new Timestamp(1704067200000L + minute * 60000L), s"e$id")
    // batch 1: two events + an in-batch replay of id 1
    Seq(ev(1, 0), ev(1, 0), ev(2, 60)).toDF("event_id", "ts", "tag")
      .coalesce(1).write.mode("overwrite").parquet(s"$src/b1")
    val schema = spark.read.parquet(s"$src/b1").schema
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(s"$src/b*")
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("event_id")
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    // batch 2: key 1 recurs with a FRESH timestamp after the watermark
    // (min 50) evicted its state -> re-emitted, the documented bounded-
    // state trade; key 2 recurs while still in state -> suppressed
    Seq(ev(1, 65), ev(2, 69)).toDF("event_id", "ts", "tag")
      .coalesce(1).write.mode("overwrite").parquet(s"$src/b2")
    runOnce()
    val out = spark.read.parquet(sink).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime)).toSeq
    val counts = out.groupBy(_._1).view.mapValues(_.size).toMap
    assert(counts(2L) == 1, s"in-state replay of id 2 must be suppressed: $out")
    assert(counts(1L) == 2,
      s"key 1 past its watermark window must re-emit (bounded state, by design): $out")
  }

  test("stateful bucket collisions equal the batch LSH candidate set") {
    import graft.streaming.DocStreams
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    // stream: 3 staged files => 3 micro-batches, keyed state crosses them
    val staged = DocStreams.stagedDocSplits(docs, nFiles = 3)
    val mkSets = (df: org.apache.spark.sql.DataFrame) => df
      .select(col("doc_id").as("id"),
        array_distinct(transform(
          graft.functions.Tokenizer.tokenize(col("text")),
          t => graft.functions.TextHash.hashMod(t))).as("toks"))
      .filter(size(col("toks")) > 0)
    val mkBands = (sets: org.apache.spark.sql.DataFrame) =>
      graft.operators.Dedup.banded(
          sets.select(col("id") +: graft.operators.Dedup
            .minHashSignaturesHashed(col("toks"), 8): _*), 8, 2)
        .select(col("band"), col("h.r0").as("h1"), col("h.r1").as("h2"),
          col("id"))
    val streamed = DocStreams.nearDupCandidates(spark,
        mkBands(mkSets(DocStreams.docsFileStream(spark, staged))),
        "collisions_spec")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.operators.Dedup.lshCandidates(
        mkSets(docs).select(col("id") +: graft.operators.Dedup
          .minHashSignaturesHashed(col("toks"), 8): _*), 8, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch,
      s"streamed-batch diff: extra=${streamed -- batch} missing=${batch -- streamed}")
    assert(batch.nonEmpty, "test corpus produced no LSH candidates")
  }

  test("streaming index ingest appends every micro-batch into the live index") {
    import graft.streaming.DocStreams
    val prefix = "graft_idx_stream_spec"
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    graft.operators.Indexer.buildBucketedIndex(spark,
      d.filter(col("doc_id") % 2 === 0), prefix)
    val staged = DocStreams.stagedDocSplits(
      d.filter(col("doc_id") % 2 === 1), nFiles = 3)
    DocStreams.ingestAppend(spark, staged, prefix)
    // every streamed doc is searchable: doc_info covers the full corpus
    val indexed = spark.table(s"${prefix}_doc_info").count()
    assert(indexed == d.count(), "ingested index lost documents")
    // the appends genuinely arrived as separate micro-batches: the busiest
    // bucket carries the build file plus one per non-empty batch
    val files = graft.operators.Indexer
      .bucketFileCounts(spark, s"${prefix}_postings")
    assert(files.values.max >= 3, s"expected stacked append files: $files")
    // search over the ingested index == search over a from-scratch build
    graft.operators.Indexer.buildBucketedIndex(spark, d, s"${prefix}_full")
    val q = "spark filter join stream data"
    assert(graft.operators.Search.searchPrebuilt(spark, q, prefix)
        .collect().toSeq ==
      graft.operators.Search.searchPrebuilt(spark, q, s"${prefix}_full")
        .collect().toSeq)
  }

  test("long text-index ingest under the maintenance policy keeps file counts bounded") {
    import graft.streaming.DocStreams
    val prefix = "graft_idx_policy_spec"
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    graft.operators.Indexer.buildBucketedIndex(spark,
      d.filter(col("doc_id") % 12 === 0), prefix)
    // 11 more micro-batches: WITHOUT the policy the busiest bucket ends at
    // 12 files (build + one per append); the policy's threshold is 3
    val staged = DocStreams.stagedDocSplits(
      d.filter(col("doc_id") % 12 =!= 0), nFiles = 11)
    val ckpt = ScratchDirs.fresh("graft_stream", "policy_ckpt").toString
    DocStreams.ingestAppend(spark, staged, prefix, maxFilesPerUnit = Some(3),
      checkpointDir = Some(ckpt))
    val files = graft.operators.Indexer
      .bucketFileCounts(spark, s"${prefix}_postings")
    assert(files.values.max <= 3,
      s"in-stream compaction did not bound file growth: $files")
    // the applied ledger is O(1), not O(batches): 11 micro-batches leave
    // one high-water-mark marker, not eleven files growing forever
    val markers = new java.io.File(s"$ckpt/_graft_applied")
      .listFiles().filter(_.getName.startsWith("batch_"))
    assert(markers.length == 1,
      s"applied ledger not O(1): ${markers.map(_.getName).mkString(", ")}")
    // and the reader contract survives the whole maintenance history:
    // search == a from-scratch build over the same corpus
    graft.operators.Indexer.buildBucketedIndex(spark, d, s"${prefix}_full")
    val q = "spark filter join stream data"
    assert(graft.operators.Search.searchPrebuilt(spark, q, prefix)
        .collect().toSeq ==
      graft.operators.Search.searchPrebuilt(spark, q, s"${prefix}_full")
        .collect().toSeq,
      "post-policy index serves differently from a fresh build")
  }

  test("long vector ingest under the maintenance policy keeps file counts bounded") {
    import graft.streaming.DocStreams
    import graft.operators.VectorIndex
    val prefix = "graft_vec_policy_spec"
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id").as("id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    VectorIndex.trainAndBuild(spark, e.filter(col("id") % 12 === 0), prefix,
      nlist = 8, iters = 1, pqM = 4, pqKs = 8)
    val staged = DocStreams.stagedEmbSplits(
      e.filter(col("id") % 12 =!= 0).select(col("id"), col("v")), nFiles = 11)
    DocStreams.vectorIngestAppend(spark, staged, prefix,
      maxFilesPerUnit = Some(3))
    val lists = VectorIndex.listFileCounts(spark, prefix)
    val fwd = graft.operators.Indexer
      .bucketFileCounts(spark, s"${prefix}_forward")
    assert(lists.values.max <= 3,
      s"in-stream compaction did not bound list growth: $lists")
    assert(fwd.values.max <= 3,
      s"in-stream compaction did not bound forward-bucket growth: $fwd")
    // serving equals a fresh build over the full set with the SAME frozen
    // quantizers (compaction and append are results-invisible)
    val cents = spark.table(s"${prefix}_centroids")
      .select(col("cent_id").as("id"), col("cv").as("v"))
    val codes = spark.table(s"${prefix}_codes").orderBy("m", "k").collect()
      .map(r => graft.operators.Pq.Code(r.getInt(0), r.getInt(1),
        r.getSeq[Double](2))).toSeq
    VectorIndex.build(spark, e.select(col("id"), col("v")), s"${prefix}_ref",
      cents, codes, 4, 16)
    val probes = e.filter(col("id") % 50 === 0)
    def serve(p: String) = VectorIndex
      .searchPrebuilt(spark, p, probes, k = 5, nprobe = 4, shortlist = 20)
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    assert(serve(prefix) == serve(s"${prefix}_ref"),
      "post-policy vector index serves differently from a fresh build")
  }

  test("stable-checkpoint ingest resumes and survives batch replay without double-appending") {
    import graft.streaming.DocStreams
    val prefix = "graft_idx_resume_spec"
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    graft.operators.Indexer.buildBucketedIndex(spark,
      d.filter(col("doc_id") % 6 === 0), prefix)
    val rest = d.filter(col("doc_id") % 6 =!= 0)
    val ckpt = ScratchDirs.fresh("graft_stream", "resume_ckpt").toString
    // first session: three micro-batches arrive and commit
    val staged = DocStreams.stagedDocSplits(
      rest.filter(pmod(col("doc_id"), lit(5)) < 3), nFiles = 3)
    assert(DocStreams.ingestAppend(spark, staged, prefix,
      checkpointDir = Some(ckpt)).replaySkips == 0,
      "a fresh ingest reported replay skips")
    // simulate the at-least-once crash window: the last batch's append
    // JOB committed but the streaming checkpoint's commit record was
    // lost — on restart Spark re-executes that batch from its logged
    // offsets, and without the applied-marker guard the index would
    // double-append it
    val commits = new java.io.File(s"$ckpt/commits")
    val last = commits.listFiles()
      .filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toInt)
    assert(last.delete(), s"could not remove ${last}")
    // the commit is rename-written, so a crash before it leaves neither
    // the file NOR its ChecksumFs .crc sidecar — remove both, or the
    // replayed commit's rename collides with the stale sidecar
    val crc = new java.io.File(commits, s".${last.getName}.crc")
    if (crc.exists()) assert(crc.delete())
    // meanwhile MORE corpus arrives in the same source directory
    val extra = DocStreams.stagedDocSplits(
      rest.filter(pmod(col("doc_id"), lit(5)) >= 3), nFiles = 2)
    java.nio.file.Files.move(
      java.nio.file.Paths.get(extra, "documents.parquet"),
      java.nio.file.Paths.get(staged, "documents.parquet3"))
    java.nio.file.Files.move(
      java.nio.file.Paths.get(extra, "documents.parquet1"),
      java.nio.file.Paths.get(staged, "documents.parquet4"))
    // second session, SAME checkpoint: replays the uncommitted batch
    // (skipped by its marker) and processes only the two new files —
    // and REPORTS the skip (the counter the stderr log used to hide)
    assert(DocStreams.ingestAppend(spark, staged, prefix,
      checkpointDir = Some(ckpt)).replaySkips == 1,
      "the resumed ingest did not report exactly the one replayed batch")
    // no document lost, none double-appended: doc_info is exactly the
    // corpus, and search equals a from-scratch build
    assert(spark.table(s"${prefix}_doc_info").count() == d.count(),
      "resumed ingest lost or double-appended documents")
    graft.operators.Indexer.buildBucketedIndex(spark, d, s"${prefix}_full")
    val q = "spark filter join stream data"
    assert(graft.operators.Search.searchPrebuilt(spark, q, prefix)
        .collect().toSeq ==
      graft.operators.Search.searchPrebuilt(spark, q, s"${prefix}_full")
        .collect().toSeq,
      "resumed+replayed index serves differently from a fresh build")
  }

  test("stable-checkpoint serving stream resumes, answering only unseen requests") {
    import spark.implicits._
    import graft.streaming.DocStreams
    val dir = "/root/testdata/sf0.001"
    val tPrefix = "graft_hserve_resume_t"
    val vPrefix = "graft_hserve_resume_v"
    graft.operators.Indexer.buildBucketedIndex(spark,
      Tables.documents(spark, dir).select(col("doc_id"), col("text")), tPrefix)
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    graft.operators.VectorIndex.trainAndBuild(spark, emb, vPrefix,
      nlist = 8, iters = 1, pqM = 4, pqKs = 8)
    val staged = DocStreams.stagedRequestSplits(
      Seq((0L, "spark filter join"), (1L, "customer data"),
        (2L, "stream data")).toDF("query_id", "query_text"), nFiles = 3)
    val ckpt = ScratchDirs.fresh("graft_stream", "hserve_resume_ckpt").toString
    val out = ScratchDirs.fresh("graft_stream", "hserve_resume_out").toString
    DocStreams.hybridServe(spark, staged, tPrefix, vPrefix, out, k = 5,
      checkpointDir = Some(ckpt))
    def served() = spark.read
      .option("recursiveFileLookup", "true").parquet(out)
    assert(served().select("query_id").distinct().count() == 3)
    // two more requests arrive in the same source dir; a restarted
    // serving session on the SAME checkpoint answers only those
    val extra = DocStreams.stagedRequestSplits(
      Seq((3L, "big data simple"), (4L, "orders revenue"))
        .toDF("query_id", "query_text"), nFiles = 2)
    java.nio.file.Files.move(
      java.nio.file.Paths.get(extra, "requests.parquet"),
      java.nio.file.Paths.get(staged, "requests.parquet3"))
    java.nio.file.Files.move(
      java.nio.file.Paths.get(extra, "requests.parquet1"),
      java.nio.file.Paths.get(staged, "requests.parquet4"))
    DocStreams.hybridServe(spark, staged, tPrefix, vPrefix, out, k = 5,
      checkpointDir = Some(ckpt))
    val df = served()
    assert(df.select("query_id").distinct().count() == 5,
      "resumed serving session did not answer the new requests")
    // nothing re-answered: every (query, doc) row appears exactly once
    assert(df.count() == df.dropDuplicates("query_id", "doc_id").count(),
      "restart double-served already-answered requests")
  }

  test("drift-triggered retrain policy recovers recall a policy-less ingest loses") {
    import spark.implicits._
    import graft.streaming.DocStreams
    import graft.operators.VectorIndex
    // RecallSpec's two-epoch drift fixture, streamed: epoch A (ids 0..199)
    // carries its signal in dims 0..31, epoch B (ids 1000..1199) in dims
    // 32..63 — quantizers trained on A alone cannot rank B candidates, the
    // degradation an unattended append-only ingest accumulates. Here B
    // arrives through the REAL ingest stream and the policy must (a) see
    // the drift in the occupancy-skew signal and (b) fire a fenced retrain
    // that recovers the recall the policy-less run loses.
    def vec(id: Long, lo: Int): Seq[Double] = (0 until 64).map { d =>
      if (d >= lo && d < lo + 32)
        math.sin(0.5 * (id % 4 + 1) * (d - lo)) +
          0.05 * math.sin(0.91 * ((id * 7 + d) % 53))
      else 0.01 * (((id * 31 + d * 17) % 11).toDouble)
    }
    val a = (0L until 200L).map(i => (i, vec(i, 0)))
    val b = (1000L until 1200L).map(i => (i, vec(i, 32)))
    val all = (a ++ b).toMap
    def cos(x: Seq[Double], y: Seq[Double]): Double = {
      var d = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < x.length) { d += x(i) * y(i); nx += x(i) * x(i); ny += y(i) * y(i); i += 1 }
      d / (math.sqrt(nx) * math.sqrt(ny))
    }
    val probeIds = (1000L until 1200L by 20L).toSeq
    val exact: Map[Long, Set[Long]] = probeIds.map { p =>
      p -> all.toSeq.filter(_._1 != p)
        .map { case (id, v) => (id, cos(all(p), v)) }
        .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1).toSet
    }.toMap
    val probesDf = probeIds.map(p => (p, all(p))).toDF("id", "v")
    def recallOf(prefix: String): Double = {
      val got = VectorIndex
        .searchPrebuilt(spark, prefix, probesDf, k = 5, nprobe = 4,
          shortlist = 40)
        .select("probe_id", "cand_id").collect()
        .groupBy(_.getLong(0))
        .map { case (p, rows) => p -> rows.map(_.getLong(1)).toSet }
      probeIds.map(p =>
        got.getOrElse(p, Set.empty[Long]).intersect(exact(p)).size / 5.0)
        .sum / probeIds.size
    }
    val threshold = 2.5
    def runIngest(prefix: String,
                  policy: Option[DocStreams.RetrainPolicy]): Int = {
      VectorIndex.trainAndBuild(spark, a.toDF("id", "v"), prefix,
        nlist = 8, iters = 2, pqM = 4, pqKs = 16)
      // the signal must DISCRIMINATE: a healthy pre-drift index sits
      // under the threshold (a policy on it would never fire)
      val base = VectorIndex.occupancySkew(spark, prefix)
      assert(base < threshold,
        f"pre-drift skew $base%.2f already above threshold $threshold — " +
          "the policy would retrain a healthy index")
      val staged = DocStreams.stagedEmbSplits(b.toDF("id", "v"), nFiles = 3)
      DocStreams.vectorIngestAppend(spark, staged, prefix,
        maxFilesPerUnit = None, retrainPolicy = policy).retrains
    }
    // policy OFF: the drifted corpus serves through stale quantizers
    assert(runIngest("vecdrift_stream_off", None) == 0)
    val skewOff = VectorIndex.occupancySkew(spark, "vecdrift_stream_off")
    val recallOff = recallOf("vecdrift_stream_off")
    // policy ON at the same cadence: the final-batch check sees the skew
    // and fires exactly one fenced retrain
    val fired = runIngest("vecdrift_stream_on",
      Some(DocStreams.RetrainPolicy(everyNBatches = 3,
        skewThreshold = threshold, iters = 2)))
    assert(fired == 1,
      s"policy fired $fired times; the drifted fixture should trigger " +
        "exactly the final-batch check")
    assert(spark.catalog.tableExists("vecdrift_stream_on_preretrain_centroids"),
      "policy retrain did not take its snapshot fence")
    val recallOn = recallOf("vecdrift_stream_on")
    info(f"drifted skew=$skewOff%.2f; recall off=$recallOff%.3f " +
      f"on=$recallOn%.3f")
    assert(skewOff > threshold,
      f"drift no longer shows in the skew signal: $skewOff%.2f — the " +
        "fixture proves nothing")
    assert(recallOff <= 0.60,
      f"fixture no longer drifts: policy-less recall $recallOff%.3f")
    assert(recallOn >= 0.85,
      f"policy retrain failed to recover recall: $recallOn%.3f")
    assert(recallOn >= recallOff + 0.25,
      f"recovery margin collapsed: $recallOff%.3f -> $recallOn%.3f")
  }

  test("a held lease turns in-stream policy maintenance into skip-and-retry, " +
    "never a dead stream or a double-append") {
    import graft.streaming.DocStreams
    // VERDICT r12 "what's wrong" #1 + "what's missing" #2: a manual CLI op
    // holding the maintenance lease while the ingest policy fires is the
    // exact contention the lease was built to surface. The policy must
    // skip (retry next batch), the stream must finish, and — because the
    // applied-marker now covers ONLY the append — a forced at-least-once
    // replay after the skipped maintenance must NOT double-append.
    val prefix = "graft_idx_leaseskip"
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    graft.operators.Indexer.buildBucketedIndex(spark,
      d.filter(col("doc_id") % 4 === 0), prefix)
    val lease = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), s"_graft_lease_$prefix")
    val fs = lease.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(lease, true)
    out.write(
      "op=manual-cli-compact host=h pid=1 token=t epoch=0\n".getBytes("UTF-8"))
    out.close()
    val ckpt = ScratchDirs.fresh("graft_stream", "leaseskip_ckpt").toString
    val staged = DocStreams.stagedDocSplits(
      d.filter(col("doc_id") % 4 =!= 0), nFiles = 3)
    try {
      // threshold 1: the policy WOULD compact at every batch; under the
      // held lease each round must skip, not kill the stream (pre-reorder
      // this threw out of foreachBatch AND left the last batch unmarked)
      DocStreams.ingestAppend(spark, staged, prefix,
        maxFilesPerUnit = Some(1), checkpointDir = Some(ckpt))
      // force the at-least-once crash window on the last batch and resume
      // (still under the lease): the marker written BEFORE the skipped
      // maintenance must suppress the re-append
      val commits = new java.io.File(s"$ckpt/commits")
      val last = commits.listFiles()
        .filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toInt)
      assert(last.delete(), s"could not remove $last")
      val crc = new java.io.File(commits, s".${last.getName}.crc")
      if (crc.exists()) assert(crc.delete())
      DocStreams.ingestAppend(spark, staged, prefix,
        maxFilesPerUnit = Some(1), checkpointDir = Some(ckpt))
    } finally fs.delete(lease, false)
    assert(spark.table(s"${prefix}_doc_info").count() == d.count(),
      "lease-skipped policy run lost or double-appended documents")
    graft.operators.Indexer.buildBucketedIndex(spark, d, s"${prefix}_full")
    val q = "spark filter join stream data"
    assert(graft.operators.Search.searchPrebuilt(spark, q, prefix)
        .collect().toSeq ==
      graft.operators.Search.searchPrebuilt(spark, q, s"${prefix}_full")
        .collect().toSeq,
      "lease-skip ingest serves differently from a fresh build")
    // lease released: the next maintenance entry compacts normally
    assert(graft.operators.Indexer
      .compactBucketedIndex(spark, prefix, maxFilesPerBucket = 1))
  }

  test("retrain-policy cadence keys off batchId — a resumed ingest fires at " +
    "the same global batch count a single-session run would") {
    import graft.streaming.DocStreams
    import graft.operators.VectorIndex
    val prefix = "graft_vec_cadence"
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id").as("id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    VectorIndex.trainAndBuild(spark, e.filter(col("id") % 5 === 0), prefix,
      nlist = 8, iters = 1, pqM = 4, pqKs = 8)
    val ckpt = ScratchDirs.fresh("graft_stream", "cadence_ckpt").toString
    val policy = Some(DocStreams.RetrainPolicy(
      everyNBatches = 4, skewThreshold = 0.0, iters = 1))
    val rest = e.filter(col("id") % 5 =!= 0)
    // session 1: batchIds 0-1 — cadence 4 never lands
    val staged = DocStreams.stagedEmbSplits(
      rest.filter(pmod(col("id"), lit(2)) === 0), nFiles = 2)
    assert(DocStreams.vectorIngestAppend(spark, staged, prefix, None, policy,
      Some(ckpt)).retrains == 0,
      "cadence-4 policy fired inside a 2-batch session")
    // two more files arrive; the resumed session processes batchIds 2-3,
    // so the GLOBAL count reaches the cadence at batch 3 and fires exactly
    // once — the old per-run in-memory counter would have reset (1, 2)
    // and silently never checked (ADVICE r12)
    val extra = DocStreams.stagedEmbSplits(
      rest.filter(pmod(col("id"), lit(2)) === 1), nFiles = 2)
    java.nio.file.Files.move(
      java.nio.file.Paths.get(extra, "embeddings.parquet"),
      java.nio.file.Paths.get(staged, "embeddings.parquet2"))
    java.nio.file.Files.move(
      java.nio.file.Paths.get(extra, "embeddings.parquet1"),
      java.nio.file.Paths.get(staged, "embeddings.parquet3"))
    val fired = DocStreams.vectorIngestAppend(spark, staged, prefix, None,
      policy, Some(ckpt)).retrains
    assert(fired == 1,
      s"resumed cadence fired $fired times; the global batch count (not a " +
        "per-run counter) must drive the policy")
    assert(spark.catalog.tableExists(s"${prefix}_preretrain_centroids"),
      "cross-restart policy retrain did not take its snapshot fence")
  }

  test("hybridServe routes oversized micro-batches through the bulk join " +
    "plan with rows identical to the literal-pruned path") {
    import spark.implicits._
    import graft.streaming.DocStreams
    val dir = "/root/testdata/sf0.001"
    val tPrefix = "graft_hserve_route_t"
    val vPrefix = "graft_hserve_route_v"
    graft.operators.Indexer.buildBucketedIndex(spark,
      Tables.documents(spark, dir).select(col("doc_id"), col("text")), tPrefix)
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    graft.operators.VectorIndex.trainAndBuild(spark, emb, vPrefix,
      nlist = 8, iters = 1, pqM = 4, pqKs = 8)
    val staged = DocStreams.stagedRequestSplits(
      Seq((0L, "spark filter join"), (1L, "customer data"),
        (2L, "stream data")).toDF("query_id", "query_text"), nFiles = 2)
    def serve(threshold: Long): Seq[Seq[Any]] = {
      val out = ScratchDirs
        .fresh("graft_stream", s"hserve_route_$threshold").toString
      DocStreams.hybridServe(spark, staged, tPrefix, vPrefix, out, k = 5,
        bulkThreshold = threshold)
      spark.read.option("recursiveFileLookup", "true").parquet(out)
        .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    }
    // threshold 0 forces every micro-batch onto the routed (bulk join)
    // path; the default threshold keeps the literal-pruned batch path —
    // the serving stream must return row-identical results either way.
    // The routed write scopes its shuffle width; the session does not
    // keep it.
    val before = GraftSession.effectiveConf(spark)
    val bulk = serve(0L)
    assert(GraftSession.effectiveConf(spark) == before,
      "the bulk-routed serving stream left the session conf changed")
    val lit = serve(graft.operators.Search.BulkRequestThreshold)
    assert(bulk.nonEmpty, "routed serving stream produced no rows")
    assert(bulk == lit,
      "bulk-routed serving stream diverged from the literal-pruned path")
  }

  test("serving-sink compaction bounds result-dir growth, stays " +
    "results-invisible, and recovers a crashed swap") {
    import spark.implicits._
    import graft.streaming.DocStreams
    val dir = "/root/testdata/sf0.001"
    val tPrefix = "graft_sinkcomp_t"
    val vPrefix = "graft_sinkcomp_v"
    graft.operators.Indexer.buildBucketedIndex(spark,
      Tables.documents(spark, dir).select(col("doc_id"), col("text")), tPrefix)
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    graft.operators.VectorIndex.trainAndBuild(spark, emb, vPrefix,
      nlist = 8, iters = 1, pqM = 4, pqKs = 8)
    val reqs = Seq((0L, "spark filter join"), (1L, "customer data"),
      (2L, "stream data"), (3L, "big data simple"), (4L, "orders revenue"))
      .toDF("query_id", "query_text")
    def rows(p: String): Seq[Seq[Any]] = spark.read
      .option("recursiveFileLookup", "true").parquet(p)
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    def resultDirs(p: String): Seq[String] = new java.io.File(p)
      .listFiles().filter(_.isDirectory).map(_.getName)
      .filter(n => n.startsWith("batch_id=") || n.startsWith("compacted_"))
      .toSeq.sorted
    // baseline layout: 5 micro-batches, one result dir each
    val outA = ScratchDirs.fresh("graft_stream", "sinkcomp_a").toString
    DocStreams.hybridServe(spark,
      DocStreams.stagedRequestSplits(reqs, nFiles = 5),
      tPrefix, vPrefix, outA, k = 5)
    assert(resultDirs(outA).size == 5)
    // policy ON at threshold 2: dir count stays bounded for the stream's
    // whole life and the accumulated rows are byte-identical
    val outB = ScratchDirs.fresh("graft_stream", "sinkcomp_b").toString
    DocStreams.hybridServe(spark,
      DocStreams.stagedRequestSplits(reqs, nFiles = 5),
      tPrefix, vPrefix, outB, k = 5, maxSinkDirs = Some(2))
    assert(rows(outB) == rows(outA),
      "sink compaction changed the accumulated results")
    // tiered bound (VERDICT r13 #2): batch dirs and generations are
    // bounded at maxDirs EACH, so the ceiling is ~2×maxDirs — the price
    // of never re-reading the accumulated log on a batch-dir cycle.
    // Deterministic trace at maxDirs=2 over 5 batches: b2 absorbs {0,1}
    // → compacted_2; b4 absorbs {2,3} → compacted_4; batch_id=4 stays.
    assert(resultDirs(outB) == Seq("batch_id=4", "compacted_2", "compacted_4"),
      s"tiered sink compaction produced an unexpected layout: ${resultDirs(outB)}")
    // crash recovery: manufacture the exact post-crash state — the staged
    // union complete, the marker written (target + absorbed names), the
    // crash landing BEFORE the deletes — and assert recovery lands the
    // swap with the rows intact
    val fs = new org.apache.hadoop.fs.Path(outB)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val absorbed = resultDirs(outB)
    spark.read.option("recursiveFileLookup", "true").parquet(outB)
      .write.mode("overwrite").parquet(s"$outB/_sink_staging")
    val mk = fs.create(
      new org.apache.hadoop.fs.Path(outB, "_sink_absorbed"), true)
    mk.write(("target=compacted_99\n" + absorbed.mkString("\n"))
      .getBytes("UTF-8"))
    mk.close()
    DocStreams.recoverSinkCompaction(spark, outB)
    assert(rows(outB) == rows(outA),
      "crashed-swap recovery lost or duplicated sink rows")
    assert(resultDirs(outB) == Seq("compacted_99"),
      s"recovery did not land the marker's target: ${resultDirs(outB)}")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(outB, "_sink_absorbed")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(outB, "_sink_staging")),
      "recovery left its marker or staging behind")
    // an INCOMPLETE marker (crash mid-write, before the atomic rename
    // landed it) means the destructive phase never started: recovery must
    // drop the .tmp + staging debris and touch nothing else — a partial
    // absorbed-list misread as real would delete a subset and duplicate
    // the rest (AUDIT_r13 #16)
    spark.read.option("recursiveFileLookup", "true").parquet(outB)
      .write.mode("overwrite").parquet(s"$outB/_sink_staging")
    val tmp = fs.create(
      new org.apache.hadoop.fs.Path(outB, "_sink_absorbed.tmp"), true)
    tmp.write("target=compac".getBytes("UTF-8")) // truncated mid-write
    tmp.close()
    DocStreams.recoverSinkCompaction(spark, outB)
    assert(rows(outB) == rows(outA),
      "partial-marker recovery changed the sink rows")
    assert(resultDirs(outB) == Seq("compacted_99"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(outB, "_sink_absorbed.tmp")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(outB, "_sink_staging")),
      "partial-marker recovery left debris behind")
    // recovery is UNCONDITIONAL at serve start (VERDICT r13 "what's
    // missing" #1): manufacture the worst crash state — absorbed dirs
    // already deleted, staging complete, marker present, so a direct
    // reader sees NOTHING — then restart the serve WITHOUT a compaction
    // flag. The restart must heal the sink (land the staging at the
    // marker's target) before answering, or the absorbed rows stay
    // invisible forever.
    val preCrash = rows(outB)
    spark.read.option("recursiveFileLookup", "true").parquet(outB)
      .write.mode("overwrite").parquet(s"$outB/_sink_staging")
    val mk2 = fs.create(
      new org.apache.hadoop.fs.Path(outB, "_sink_absorbed"), true)
    mk2.write("target=compacted_100\ncompacted_99".getBytes("UTF-8"))
    mk2.close()
    fs.delete(new org.apache.hadoop.fs.Path(outB, "compacted_99"), true)
    DocStreams.hybridServe(spark,
      DocStreams.stagedRequestSplits(
        Seq((5L, "region nation")).toDF("query_id", "query_text"),
        nFiles = 1),
      tPrefix, vPrefix, outB, k = 5) // note: NO maxSinkDirs
    assert(resultDirs(outB).contains("compacted_100"),
      s"compaction-less restart did not heal the crashed swap: " +
        s"${resultDirs(outB)}")
    assert(rows(outB).size > preCrash.size &&
      preCrash.forall(rows(outB).contains),
      "compaction-less restart lost previously-committed sink rows")
  }

  test("tiered sink compaction: batch cycles never re-read prior " +
    "generations; generations merge on their own threshold; dir count " +
    "stays bounded for the sink's whole life") {
    import spark.implicits._
    import graft.streaming.DocStreams
    val out = ScratchDirs.fresh("graft_stream", "sinkcomp_tier").toString
    val root = new org.apache.hadoop.fs.Path(out)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def writeBatch(id: Long): Unit =
      Seq(id).toDF("r").coalesce(1).write.mode("overwrite")
        .parquet(s"$out/batch_id=$id")
    def dirNames: Seq[String] = fs.listStatus(root).toSeq
      .filter(_.isDirectory).map(_.getPath.getName).sorted
    def allRows: Set[Long] = spark.read
      .option("recursiveFileLookup", "true").parquet(out)
      .as[Long].collect().toSet
    def sig(name: String): Seq[(String, Long)] =
      fs.listStatus(new org.apache.hadoop.fs.Path(root, name)).toSeq
        .map(st => (st.getPath.getName, st.getModificationTime))
        .sortBy(_._1)
    // tier 0: four batch dirs over threshold 2 absorb into ONE new
    // generation — never the current batch's dir
    (0L to 3L).foreach(writeBatch)
    assert(DocStreams.compactServingSink(spark, out, 2, 3L))
    assert(dirNames == Seq("batch_id=3", "compacted_3"), dirNames)
    assert(allRows == (0L to 3L).toSet)
    val sig3 = sig("compacted_3")
    // second batch-dir cycle: absorbs only batch dirs — the prior
    // generation keeps the SAME files with the SAME mtimes, i.e. it was
    // neither re-read into the staging union nor rewritten (the r13
    // single-tier policy re-wrote the whole accumulated log every cycle)
    (4L to 6L).foreach(writeBatch)
    assert(DocStreams.compactServingSink(spark, out, 2, 6L))
    assert(dirNames == Seq("batch_id=6", "compacted_3", "compacted_6"),
      dirNames)
    assert(sig("compacted_3") == sig3,
      "a batch-dir cycle rewrote a prior generation (single-tier write " +
        "amplification)")
    assert(allRows == (0L to 6L).toSet)
    // third generation, then tier 1: generation count crosses the SAME
    // threshold and the generations (only) merge — batch dirs untouched
    (7L to 9L).foreach(writeBatch)
    assert(DocStreams.compactServingSink(spark, out, 2, 9L))
    assert(dirNames == Seq("batch_id=9", "compacted_3", "compacted_6",
      "compacted_9"), dirNames)
    writeBatch(10L)
    val sigB10 = sig("batch_id=10")
    assert(DocStreams.compactServingSink(spark, out, 2, 10L))
    assert(dirNames == Seq("batch_id=10", "batch_id=9", "compacted_10g"),
      dirNames)
    assert(sig("batch_id=10") == sigB10,
      "the generation merge touched a batch dir")
    assert(allRows == (0L to 10L).toSet)
    // long synthetic serve: dir count stays <= 2*maxDirs+1 after every
    // cycle (each tier bounded at maxDirs, +1 for the arriving batch)
    var maxSeen = dirNames.size
    (11L to 24L).foreach { i =>
      writeBatch(i)
      DocStreams.compactServingSink(spark, out, 2, i): Unit
      maxSeen = math.max(maxSeen, dirNames.size)
    }
    assert(maxSeen <= 2 * 2 + 1,
      s"tiered compaction did not bound dir growth: $maxSeen dirs")
    assert(allRows == (0L to 24L).toSet, "the long serve lost rows")
    // fresh-checkpoint restart collision (AUDIT_r14 #1): batchIds replay
    // from 0, so a tier-0 target name can collide with a generation an
    // earlier run landed. The same-named generation must be ABSORBED
    // (name freed, rows kept) — renaming onto it would fail after the
    // absorbed batch dirs deleted, and recovery would then drop the
    // staged union as already-landed: data loss.
    val out2 = ScratchDirs.fresh("graft_stream", "sinkcomp_collide").toString
    Seq(100L).toDF("r").coalesce(1).write.parquet(s"$out2/compacted_2")
    (0L to 2L).foreach(i => Seq(i).toDF("r").coalesce(1)
      .write.mode("overwrite").parquet(s"$out2/batch_id=$i"))
    assert(DocStreams.compactServingSink(spark, out2, 2, 2L))
    val root2 = new org.apache.hadoop.fs.Path(out2)
    val names2 = fs.listStatus(root2).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName).sorted
    assert(names2 == Seq("batch_id=2", "compacted_2"), names2)
    assert(spark.read.option("recursiveFileLookup", "true").parquet(out2)
      .as[Long].collect().toSet == Set(0L, 1L, 2L, 100L),
      "target-name collision lost the prior generation's rows")
    // post-rename crash with a SELF-ABSORBED target name (AUDIT_r14
    // #14): the marker lists the target's own name among the absorbed
    // dirs (the collision-absorb form above); if the crash lands AFTER
    // the staging renamed into place but BEFORE the marker deleted,
    // recovery must recognize the landed result (staging gone ⇒ swap
    // completed) and PRESERVE it — the pre-fix protocol deleted every
    // listed dir and lost the whole swap.
    val mk3 = fs.create(
      new org.apache.hadoop.fs.Path(root2, "_sink_absorbed"), true)
    mk3.write(("target=compacted_2\nbatch_id=0\nbatch_id=1\ncompacted_2")
      .getBytes("UTF-8"))
    mk3.close()
    DocStreams.recoverSinkCompaction(spark, out2)
    assert(fs.exists(new org.apache.hadoop.fs.Path(root2, "compacted_2")),
      "recovery deleted a landed swap whose target was in its own " +
        "absorbed list")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root2, "_sink_absorbed")))
    assert(spark.read.option("recursiveFileLookup", "true").parquet(out2)
      .as[Long].collect().toSet == Set(0L, 1L, 2L, 100L),
      "post-rename recovery changed the sink rows")
  }

  test("forgetFromServingSink erases exactly the targeted doc_ids, " +
    "keeps the last batch dir replay-safe, and is idempotent") {
    import spark.implicits._
    import graft.streaming.DocStreams
    val out = ScratchDirs.fresh("graft_stream", "sinkfgt").toString
    val root = new org.apache.hadoop.fs.Path(out)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a synthetic results log in the sink layout: 3 batch dirs + 1
    // generation, rows keyed by doc_id with a payload column that must
    // survive byte-identically
    def writeDir(name: String, ids: Seq[Long]): Unit =
      ids.map(i => (i, s"payload_$i")).toDF("doc_id", "payload")
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
    writeDir("compacted_5", 0L to 9L)
    writeDir("batch_id=6", 10L to 13L)
    writeDir("batch_id=7", 14L to 17L)
    writeDir("batch_id=8", Seq(18L, 21L, 28L))
    def rows: Set[(Long, String)] = spark.read
      .option("recursiveFileLookup", "true").parquet(out)
      .as[(Long, String)].collect().toSet
    val before = rows
    val forgotten = Seq(0L, 7L, 14L, 21L) // spans generation + both tiers
    DocStreams.forgetFromServingSink(spark, out,
      forgotten.toDF("doc_id"))
    assert(rows == before.filterNot(r => forgotten.contains(r._1)),
      "forget did not remove exactly the targeted rows")
    val names = fs.listStatus(root).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName).sorted
    // everything except the HIGHEST batch dir collapses into the purged
    // generation, NAMED BY ITS HIGHEST ABSORBED ID (compacted_7 — the
    // absorbed dirs hold only batches <= 7, so retention can age it out;
    // the r14 compacted_forget name was retention-immune forever,
    // VERDICT r14 #1); batch_id=8 is purged IN PLACE under its own name
    // (the one dir a resumed stream replay-overwrites — absorbing it
    // would duplicate its rows when the replay lands)
    assert(names == Seq("batch_id=8", "compacted_7"), names)
    assert(spark.read.parquet(s"$out/batch_id=8")
      .as[(Long, String)].collect().toSet ==
      Set((18L, "payload_18"), (28L, "payload_28")),
      "the last batch dir was not purged in place")
    // a COMPLETED forget leaves no erasure marker or persisted id list
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root,
      "_sink_forget_pending")) && !fs.exists(
      new org.apache.hadoop.fs.Path(root, "_sink_forget_ids")),
      "a completed forget left its erasure marker or id list behind")
    // idempotent: a re-run (e.g. after a mid-forget crash) changes nothing
    DocStreams.forgetFromServingSink(spark, out, forgotten.toDF("doc_id"))
    assert(rows == before.filterNot(r => forgotten.contains(r._1)))
    // a forget on an empty or missing sink is a no-op
    DocStreams.forgetFromServingSink(spark,
      ScratchDirs.fresh("graft_stream", "sinkfgt_none").toString,
      forgotten.toDF("doc_id"))
  }

  test("sink retention drops exactly the aged dirs: whole generations " +
    "only when their newest absorbed batch ages out, unknown ages never") {
    import spark.implicits._
    import graft.streaming.DocStreams
    val out = ScratchDirs.fresh("graft_stream", "sinkret").toString
    val root = new org.apache.hadoop.fs.Path(out)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def writeDir(name: String): Unit =
      Seq(name).toDF("src").coalesce(1).write.parquet(s"$out/$name")
    Seq("batch_id=6", "batch_id=9", "batch_id=10", "compacted_5",
      "compacted_7g", "compacted_forget").foreach(writeDir)
    // retain 3 at batch 10: cutoff 7 — drops batch 6, compacted_5 (holds
    // batches <= 5), compacted_7g (<= 7); keeps batches 9/10 and the
    // non-numeric compacted_forget (a legacy r14 forget generation —
    // nothing writes that name anymore, but any dir whose name carries
    // no numeric id is unknown-age, treated as young: retention never
    // guesses)
    assert(DocStreams.retainServingSink(spark, out, 3, 10L) == 3)
    val names = fs.listStatus(root).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName).sorted
    assert(names == Seq("batch_id=10", "batch_id=9", "compacted_forget"),
      names)
    // idempotent; and nothing to drop means zero
    assert(DocStreams.retainServingSink(spark, out, 3, 10L) == 0)
    // a held sink lease fails fast (the in-stream call site wraps with
    // the skip-and-retry policyOp, like compaction)
    val o = fs.create(new org.apache.hadoop.fs.Path(root, "_graft_lease"),
      true)
    o.write(("op=other host=h pid=0 token=zz " +
      s"epoch=${System.currentTimeMillis()}\n").getBytes("UTF-8"))
    o.close()
    intercept[graft.operators.MaintenanceLease.LeaseHeldException] {
      DocStreams.retainServingSink(spark, out, 1, 99L)
    }
    fs.delete(new org.apache.hadoop.fs.Path(root, "_graft_lease"), false)
    // a missing sink is a no-op
    assert(DocStreams.retainServingSink(spark,
      s"$out/nope", 1, 99L) == 0)
  }

  test("a forget's purged generation is AGEABLE: serve -> forget -> " +
    "serve past the retention horizon drops it (VERDICT r14 #1)") {
    import spark.implicits._
    import graft.streaming.DocStreams
    val dir = "/root/testdata/sf0.001"
    val tPrefix = "graft_fgtage_t"
    val vPrefix = "graft_fgtage_v"
    // FULL corpus in both stores: the hybrid joins candidates back to
    // doc_info for titles, so a text index over a doc subset silently
    // drops the vector arm's out-of-subset candidates
    graft.operators.Indexer.buildBucketedIndex(spark,
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      tPrefix)
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    graft.operators.VectorIndex.trainAndBuild(spark, emb, vPrefix,
      nlist = 8, iters = 1, pqM = 4, pqKs = 8)
    val staged = DocStreams.stagedRequestSplits(
      Seq((0L, "spark filter join"), (1L, "customer data"),
        (2L, "stream data")).toDF("query_id", "query_text"), nFiles = 3)
    val ckpt = ScratchDirs.fresh("graft_stream", "fgtage_ckpt").toString
    val out = ScratchDirs.fresh("graft_stream", "fgtage_out").toString
    val root = new org.apache.hadoop.fs.Path(out)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dirNames: Seq[String] = fs.listStatus(root).toSeq
      .filter(_.isDirectory).map(_.getPath.getName).sorted
    // round 1: batches 0..2 served, no retention
    DocStreams.hybridServe(spark, staged, tPrefix, vPrefix, out, k = 5,
      checkpointDir = Some(ckpt))
    val someServed = spark.read
      .option("recursiveFileLookup", "true").parquet(out)
      .select("doc_id").head().getLong(0)
    DocStreams.forgetFromServingSink(spark, out,
      Seq(someServed).toDF("doc_id"))
    // the purged generation carries its highest absorbed id (batches
    // 0 and 1 collapse -> compacted_1), so retention can age it — the
    // r14 compacted_forget name was permanently retention-immune
    assert(dirNames == Seq("batch_id=2", "compacted_1"), dirNames)
    // round 2: three more requests on the SAME checkpoint with
    // --sink-retain=2 — batches 3..5; retention at batch 3 (cutoff 1)
    // drops the purged generation, at 4 drops batch 2, at 5 drops batch 3
    DocStreams.stageRequestSplitsInto(staged,
      Seq((3L, "big data simple"), (4L, "orders revenue"),
        (5L, "region nation")).toDF("query_id", "query_text"),
      nFiles = 3, startAt = 3)
    DocStreams.hybridServe(spark, staged, tPrefix, vPrefix, out, k = 5,
      checkpointDir = Some(ckpt), retainBatches = Some(2))
    assert(dirNames == Seq("batch_id=4", "batch_id=5"),
      s"the purged generation (or an aged batch) survived retention: " +
        s"$dirNames")
    val perDir = dirNames.map(n => n -> spark.read.parquet(s"$out/$n")
      .select("query_id").distinct().as[Long].collect().toSeq.sorted)
    assert(spark.read.option("recursiveFileLookup", "true").parquet(out)
      .select("query_id").distinct().as[Long].collect().toSet ==
      Set(4L, 5L),
      s"retention kept rows outside the horizon (per-dir: $perDir)")
    // lineage observability: both serves above resumed ONE checkpoint,
    // so the sink records a single lineage; a FRESH-checkpoint serve
    // over the same sink (the batch-id-regression scenario the
    // maintenance ops' age premises assume away) registers a second —
    // the precondition break is now visible in sstats instead of purely
    // contractual
    def lineages: Long = DocStreams.describeServingSink(spark, out)
      .head().getAs[Long]("lineages")
    assert(lineages == 1L,
      s"two serves on one checkpoint recorded $lineages lineages")
    val ckpt2 = ScratchDirs.fresh("graft_stream", "fgtage_ckpt2").toString
    DocStreams.hybridServe(spark, staged, tPrefix, vPrefix, out, k = 5,
      checkpointDir = Some(ckpt2))
    assert(lineages == 2L,
      s"a fresh-checkpoint serve did not register a second lineage " +
        s"(got $lineages)")
    // idempotent: re-registering a known checkpoint adds nothing
    val root2 = new org.apache.hadoop.fs.Path(out)
    val fs2 = root2.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(DocStreams.registerSinkLineage(fs2, root2, ckpt2) == 2)
  }

  test("a forget crashed mid-erasure is visible (forget_pending) and " +
    "auto-completes at the next maintenance entry (VERDICT r14 #3)") {
    import spark.implicits._
    import graft.streaming.DocStreams
    val out = ScratchDirs.fresh("graft_stream", "sinkfgt_crash").toString
    val root = new org.apache.hadoop.fs.Path(out)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def writeDir(name: String, ids: Seq[Long]): Unit =
      ids.map(i => (i, s"payload_$i")).toDF("doc_id", "payload")
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
    def rows: Set[(Long, String)] = spark.read
      .option("recursiveFileLookup", "true").parquet(out)
      .as[(Long, String)].collect().toSet
    def pending: Boolean = DocStreams.describeServingSink(spark, out)
      .head().getAs[Boolean]("forget_pending")
    def writeMarker(): Unit = {
      val o = fs.create(
        new org.apache.hadoop.fs.Path(root, "_sink_forget_pending"), true)
      o.write("ids=_sink_forget_ids\n".getBytes("UTF-8"))
      o.close()
    }
    val forgotten = Seq(7L, 21L)
    // crash point A: id list + marker durable, neither swap ran — the
    // erasure is owed in full
    writeDir("compacted_3", 0L to 9L)
    writeDir("batch_id=4", 10L to 14L)
    writeDir("batch_id=5", Seq(15L, 21L))
    forgotten.toDF("doc_id").write.mode("overwrite")
      .parquet(s"$out/_sink_forget_ids")
    writeMarker()
    assert(pending, "sstats did not surface the owed erasure")
    DocStreams.recoverSinkCompaction(spark, out)
    assert(!pending, "recovery did not clear the erasure marker")
    assert(rows.map(_._1).intersect(forgotten.toSet).isEmpty,
      "recovery did not complete the owed erasure")
    assert(rows == ((0L to 14L).toSet ++ Set(15L))
      .diff(forgotten.toSet).map(i => (i, s"payload_$i")),
      "recovery purged more than the forgotten ids")
    assert(!fs.exists(
      new org.apache.hadoop.fs.Path(root, "_sink_forget_ids")))
    // crash point B (the VERDICT scenario): the bulk swap LANDED but the
    // last-batch in-place purge did not — the forgotten id in the newest
    // batch dir must still be erased, with no swap debris to go on
    val out2 = ScratchDirs.fresh("graft_stream", "sinkfgt_crash2").toString
    val root2 = new org.apache.hadoop.fs.Path(out2)
    def writeDir2(name: String, ids: Seq[Long]): Unit =
      ids.map(i => (i, s"payload_$i")).toDF("doc_id", "payload")
        .coalesce(1).write.mode("overwrite").parquet(s"$out2/$name")
    writeDir2("compacted_4", (0L to 14L).filterNot(forgotten.contains))
    writeDir2("batch_id=5", Seq(15L, 21L))
    forgotten.toDF("doc_id").write.mode("overwrite")
      .parquet(s"$out2/_sink_forget_ids")
    val o2 = fs.create(
      new org.apache.hadoop.fs.Path(root2, "_sink_forget_pending"), true)
    o2.write("ids=_sink_forget_ids\n".getBytes("UTF-8"))
    o2.close()
    DocStreams.recoverSinkCompaction(spark, out2)
    val rows2 = spark.read
      .option("recursiveFileLookup", "true").parquet(out2)
      .as[(Long, String)].collect().toSet
    assert(rows2 == ((0L to 15L).toSet.diff(forgotten.toSet))
      .map(i => (i, s"payload_$i")),
      "between-swaps recovery left the newest batch dir half-erased")
    assert(!fs.exists(
      new org.apache.hadoop.fs.Path(root2, "_sink_forget_pending")))
    // a .tmp erasure marker (or an id list with NO marker) is a forget
    // that never entered its destructive phase: debris drops, nothing
    // purges
    val out3 = ScratchDirs.fresh("graft_stream", "sinkfgt_crash3").toString
    val root3 = new org.apache.hadoop.fs.Path(out3)
    Seq((21L, "payload_21")).toDF("doc_id", "payload")
      .coalesce(1).write.parquet(s"$out3/batch_id=0")
    forgotten.toDF("doc_id").write.mode("overwrite")
      .parquet(s"$out3/_sink_forget_ids")
    val o3 = fs.create(new org.apache.hadoop.fs.Path(root3,
      "_sink_forget_pending.tmp"), true)
    o3.write("ids=".getBytes("UTF-8")); o3.close()
    DocStreams.recoverSinkCompaction(spark, out3)
    assert(spark.read.option("recursiveFileLookup", "true").parquet(out3)
      .as[(Long, String)].collect().toSet == Set((21L, "payload_21")),
      "a never-started forget's debris purged rows")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root3,
      "_sink_forget_ids")) && !fs.exists(new org.apache.hadoop.fs.Path(
      root3, "_sink_forget_pending.tmp")),
      "never-started forget debris was not dropped")
  }

  test("standalone sink maintenance derives its as-of id from the " +
    "layout: naming never regresses below an absorbed id, the newest " +
    "batch dir survives, unknown-age layouts no-op") {
    import spark.implicits._
    import graft.streaming.DocStreams
    val out = ScratchDirs.fresh("graft_stream", "sink_standalone").toString
    val root = new org.apache.hadoop.fs.Path(out)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def writeDir(name: String, ids: Seq[Long]): Unit =
      ids.map(i => (i, s"payload_$i")).toDF("doc_id", "payload")
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
    // a regressed-lineage shape: an old generation carries the HIGHEST
    // id while a fresh checkpoint's batches restarted at 0. The as-of id
    // must come from the generation (naming the target compacted_1
    // would break "a generation holds only batches <= its name" — a
    // later retention pass would drop batch-9 data as age-1), and the
    // newest BATCH dir must still be the one excluded from absorption.
    writeDir("compacted_9", 100L to 104L)
    writeDir("batch_id=0", Seq(0L))
    writeDir("batch_id=1", Seq(1L))
    assert(DocStreams.compactServingSinkNow(spark, out, maxDirs = 1))
    val names = fs.listStatus(root).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName).sorted
    assert(names == Seq("batch_id=1", "compacted_9"), names)
    assert(spark.read.option("recursiveFileLookup", "true").parquet(out)
      .select("doc_id").as[Long].collect().toSet ==
      ((100L to 104L).toSet ++ Set(0L, 1L)),
      "standalone compaction lost rows")
    // a layout with NO id-carrying dir (a legacy unknown-age generation
    // alone): both ops no-op — age is never guessed at
    val legacy = ScratchDirs.fresh("graft_stream", "sink_legacy").toString
    Seq((7L, "payload_7")).toDF("doc_id", "payload").coalesce(1)
      .write.parquet(s"$legacy/compacted_forget")
    assert(!DocStreams.compactServingSinkNow(spark, legacy, maxDirs = 0))
    assert(DocStreams.retainServingSinkNow(spark, legacy, 1) == 0)
    assert(new java.io.File(legacy, "compacted_forget").exists(),
      "standalone maintenance touched an unknown-age layout")
  }

  test("serving-sink lease: a held lease skips compaction and recovery; " +
    "a failed recovery aborts the serve without leaking the pinned " +
    "shuffle width") {
    import spark.implicits._
    import graft.streaming.DocStreams
    val dir = "/root/testdata/sf0.001"
    val tPrefix = "graft_sinklease_t"
    val vPrefix = "graft_sinklease_v"
    graft.operators.Indexer.buildBucketedIndex(spark,
      Tables.documents(spark, dir).select(col("doc_id"), col("text"))
        .limit(100), tPrefix)
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    graft.operators.VectorIndex.trainAndBuild(spark, emb, vPrefix,
      nlist = 8, iters = 1, pqM = 4, pqKs = 8)
    val reqs = Seq((0L, "spark filter"), (1L, "customer data"),
      (2L, "orders revenue")).toDF("query_id", "query_text")
    val out = ScratchDirs.fresh("graft_stream", "sinklease").toString
    val root = new org.apache.hadoop.fs.Path(out)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(root)
    val leaseFile = new org.apache.hadoop.fs.Path(root, "_graft_lease")
    val o = fs.create(leaseFile, true)
    o.write(("op=other-serve host=h pid=0 token=zz " +
      s"epoch=${System.currentTimeMillis()}\n").getBytes("UTF-8"))
    o.close()
    // a direct compaction on the held sink fails fast naming the holder
    val ex = intercept[graft.operators.MaintenanceLease.LeaseHeldException] {
      DocStreams.compactServingSink(spark, out, 1, 99L)
    }
    assert(ex.getMessage.contains("other-serve"), ex.getMessage)
    // the serve itself SURVIVES the held lease: start-recovery skips
    // (opportunistic), the in-stream policy skips every round
    // (skip-not-fail), and every batch's results still land
    DocStreams.hybridServe(spark, DocStreams.stagedRequestSplits(reqs, 3),
      tPrefix, vPrefix, out, k = 5, maxSinkDirs = Some(1))
    val served = fs.listStatus(root).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
    assert(served.count(_.startsWith("batch_id=")) == 3 &&
      !served.exists(_.startsWith("compacted_")),
      s"compaction ran under another writer's sink lease: $served")
    // recovery under the held lease leaves the (foreign) debris alone;
    // released, it clears the no-marker staging and compaction proceeds
    fs.mkdirs(new org.apache.hadoop.fs.Path(root, "_sink_staging"))
    DocStreams.recoverSinkCompaction(spark, out)
    assert(fs.exists(new org.apache.hadoop.fs.Path(root, "_sink_staging")),
      "recovery touched the sink under another writer's lease")
    fs.delete(leaseFile, false)
    DocStreams.recoverSinkCompaction(spark, out)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "_sink_staging")))
    assert(DocStreams.compactServingSink(spark, out, 1, 99L))
    // conf hygiene (VERDICT r13 "what's wrong" #1): a recovery FAILURE at
    // serve start must abort with the caller's shuffle width untouched.
    // Manufacture an unreadable marker (a directory: open() fails) and
    // assert the serve throws BEFORE pinning partitions.
    val out2 = ScratchDirs.fresh("graft_stream", "sinkleak").toString
    fs.mkdirs(new org.apache.hadoop.fs.Path(out2, "_sink_absorbed"))
    val before = GraftSession.effectiveConf(spark)
    val thrown = intercept[Exception] {
      DocStreams.hybridServe(spark,
        DocStreams.stagedRequestSplits(reqs, 1), tPrefix, vPrefix, out2,
        k = 5)
    }
    assert(GraftSession.effectiveConf(spark) == before,
      s"a failed sink recovery left the session conf changed " +
        s"(failure was: $thrown)")
  }

  // ---- Replay invariance -----------------------------------------------------
  // The registry's stream_* rows run one AvailableNow pass over a
  // single-file source (one micro-batch plus sentinels). A live stream has
  // no such luck: batch boundaries land wherever the trigger cuts them.
  // These tests replay the SAME corpus as 2 vs 5 chronological
  // micro-batches and assert the stateful results are identical — state
  // carry (sessionize/SCD2), additive view refresh (MV), and
  // range-condition state retention in the stream-stream join
  // (attribution: a purchase must still find a click from an earlier
  // micro-batch) all have to hold for this to pass.
  private val replayDir = "/root/testdata/sf0.001"

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("replay invariance: sessionize identical at 2 vs 5 micro-batches") {
    assert(canon(EventStreams.sessionizeReplay(spark, replayDir, 2)) ==
      canon(EventStreams.sessionizeReplay(spark, replayDir, 5)))
  }

  test("replay invariance: SCD2 history identical at 2 vs 5 micro-batches") {
    assert(canon(EventStreams.scd2Replay(spark, replayDir, 2)) ==
      canon(EventStreams.scd2Replay(spark, replayDir, 5)))
  }

  test("replay invariance: MV refresh identical at 2 vs 5 refresh cadences") {
    assert(canon(EventStreams.mvRefreshReplay(spark, replayDir, 2)) ==
      canon(EventStreams.mvRefreshReplay(spark, replayDir, 5)))
  }

  test("replay invariance: attribution identical at 2 vs 5 micro-batches") {
    assert(canon(EventStreams.attributionReplay(spark, replayDir, 2)) ==
      canon(EventStreams.attributionReplay(spark, replayDir, 5)))
  }

  test("replay invariance: funnel identical at 2 vs 5 micro-batches") {
    assert(canon(EventStreams.funnelReplay(spark, replayDir, 2)) ==
      canon(EventStreams.funnelReplay(spark, replayDir, 5)))
  }

  test("replay invariance: transitions identical at 2 vs 5 micro-batches") {
    assert(canon(EventStreams.transitionsReplay(spark, replayDir, 2)) ==
      canon(EventStreams.transitionsReplay(spark, replayDir, 5)))
  }
}

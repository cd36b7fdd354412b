package graft

import org.apache.spark.sql.functions._
import graft.streaming.Streams

/** Structured Streaming helpers driven by the events fixture through a
  * memory sink (batch parquet drives the stream synchronously). */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  // file streaming sources need a DIRECTORY; stage the fixture file
  private lazy val eventsDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf001/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toString
  }

  test("tumbling window counts: streaming result equals batch result") {
    val stream = Streams.readEventsStream(spark, eventsDir)
    val agg = Streams.tumblingCounts(stream, watermark = "1 hour", windowLen = "6 hours")
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("tumbling_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("tumbling_out")
        .select("w_start", "event_type", "n")
        .orderBy("w_start", "event_type")
        .collect()
      // batch equivalent over the same data
      val batch = Streams.tumblingCounts(
        spark.read.schema(Streams.eventsSchema).parquet(s"$sf001/events.parquet")
          .withColumn("ts", timestamp_micros(expr("ts div 1000"))),
        watermark = "1 hour", windowLen = "6 hours")
        .select("w_start", "event_type", "n")
        .orderBy("w_start", "event_type")
        .collect()
      assert(streamed.nonEmpty)
      assert(streamed.map(_.toString).toSeq == batch.map(_.toString).toSeq)
    } finally q.stop()
  }

  test("dedupStream: duplicates suppressed ACROSS micro-batches via keyed state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Streams.Ev]
    val out = Streams.dedupStream(input.toDF(), watermark = "1 hour")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("dedup_out").start()
    try {
      def ev(id: Long, tsMin: Long, u: Long, t: String, v: Double) =
        Streams.Ev(id, new java.sql.Timestamp(tsMin * 60000L), u, t, v)
      input.addData(
        ev(1, 10, 1, "click", 1.0), ev(2, 11, 1, "click", 1.0), // in-batch dup
        ev(3, 12, 2, "view", 2.0))
      q.processAllAvailable()
      // id 4 duplicates batch-1's key — CROSS-batch suppression is the
      // part a stateless dropDuplicates cannot do
      input.addData(ev(4, 13, 1, "click", 1.0), ev(5, 14, 3, "error", 9.0))
      q.processAllAvailable()
      val got = spark.table("dedup_out").collect().map(_.getLong(0)).toSet
      assert(got == Set(1L, 3L, 5L))
    } finally q.stop()
  }

  test("runningUserTotals accumulates state across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Streams.Ev]
    val out = Streams.runningUserTotals(input.toDF(), watermark = "1 hour")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("running_out").start()
    try {
      def ev(id: Long, tsMin: Long, u: Long, v: Double) =
        Streams.Ev(id, new java.sql.Timestamp(tsMin * 60000L), u, "click", v)
      input.addData(ev(1, 10, 1, 1.0), ev(2, 11, 1, 2.0), ev(3, 12, 2, 5.0))
      q.processAllAvailable()
      input.addData(ev(4, 13, 1, 4.0))
      q.processAllAvailable()
      val rows = spark.table("running_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // user 1: batch1 emits (2, 3.0), batch2 emits cumulative (3, 7.0)
      assert(rows.contains((1L, 2L, 3.0)))
      assert(rows.contains((1L, 3L, 7.0)))
      assert(rows.contains((2L, 1L, 5.0)))
    } finally q.stop()
  }

  test("runningUserTotals idleTtl expires idle users; reappearance restarts from zero") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Streams.Ev]
    val out = Streams.runningUserTotals(
      input.toDF(), watermark = "10 minutes", idleTtl = Some("30 minutes"))
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("running_ttl_out").start()
    try {
      def ev(id: Long, tsMin: Long, u: Long, v: Double) =
        Streams.Ev(id, new java.sql.Timestamp(tsMin * 60000L), u, "click", v)
      input.addData(ev(1, 10, 1, 1.0), ev(2, 11, 1, 2.0))
      q.processAllAvailable()
      // advance the watermark far past user 1's TTL (last seen 11min,
      // ttl 30min → expiry at 41min; watermark = 200 - 10 = 190min)
      input.addData(ev(3, 200, 2, 5.0))
      q.processAllAvailable()
      // user 1 reappears AFTER expiry: totals restart, no carry-over
      input.addData(ev(4, 201, 1, 4.0))
      q.processAllAvailable()
      val u1 = spark.table("running_ttl_out").collect()
        .filter(_.getLong(0) == 1L).map(r => (r.getLong(1), r.getDouble(2))).toSet
      assert(u1 == Set((2L, 3.0), (1L, 4.0))) // (fresh state, not (3, 7.0))
    } finally q.stop()
  }

  test("minHashDupStream finds near-dup pairs ACROSS micro-batches via band state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Streams.Doc]
    val out = Streams.minHashDupStream(input.toDF(), watermark = "1 hour", threshold = 0.5)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("minhash_stream_out").start()
    try {
      def doc(id: Long, tsMin: Long, text: String) =
        Streams.Doc(id, new java.sql.Timestamp(tsMin * 60000L), text)
      val a = "the quick brown fox jumps over the lazy dog and runs far away home"
      // batch 1: base doc + an unrelated doc + an IN-batch exact dup
      input.addData(
        doc(1, 10, a),
        doc(2, 11, "el perro grande duerme en la casa durante toda la noche tranquila"),
        doc(5, 12, a))
      q.processAllAvailable()
      val batch1 = spark.table("minhash_stream_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(batch1 == Set((1L, 5L))) // in-batch pair, unrelated doc silent
      // batch 2: a near-dup of doc 1 arrives LATER — the band state must
      // still hold doc 1's signature
      input.addData(doc(9, 20, a + " tonight"))
      q.processAllAvailable()
      val all = spark.table("minhash_stream_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(all.contains((1L, 9L)), s"cross-batch pair missing: $all")
      assert(all.contains((5L, 9L)))
      assert(!all.exists { case (x, y) => x == 2L || y == 2L })
      // jaccard carried through and sane
      val js = spark.table("minhash_stream_out").collect().map(_.getDouble(2))
      assert(js.forall(j => j >= 0.5 && j <= 1.0))
    } finally q.stop()
  }

  test("narrow corpus-prep ops run unchanged on a stream: chunk + deterministic sample") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.{Chunking, Sampling}
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    // narrow ops (no shuffle, no state) apply to a streaming frame
    // exactly as to a batch frame — that's the structural claim
    val docs = input.toDF.toDF("doc_id", "text")
    val out = Chunking.chunkByTokens(
      Sampling.hashSample(docs, 0.5, "stream-seed", Seq("doc_id")),
      "text", maxTokens = 4, overlap = 1)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("prep_stream_out").start()
    try {
      // ids 3/13 survive the 0.5 unit-hash cut, 1/2 do not (seed-fixed)
      input.addData((1L, "a b c d e f"), (3L, "g h"), (13L, "i j k"))
      q.processAllAvailable()
      input.addData((14L, "l m n o p q r"), (2L, "s t u"))
      q.processAllAvailable()
      val streamed = spark.table("prep_stream_out")
        .select("doc_id", "chunk_id", "chunk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      // batch equivalent over the union of both micro-batches
      val batchDocs = Seq((1L, "a b c d e f"), (3L, "g h"), (13L, "i j k"),
        (14L, "l m n o p q r"), (2L, "s t u")).toDF("doc_id", "text")
      val batch = Chunking.chunkByTokens(
          Sampling.hashSample(batchDocs, 0.5, "stream-seed", Seq("doc_id")),
          "text", maxTokens = 4, overlap = 1)
        .select("doc_id", "chunk_id", "chunk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(streamed == batch && batch.nonEmpty)
    } finally q.stop()
  }

  test("r4 narrow ops run unchanged on a stream: badwords + scripts + FIM + sentence chunks") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.{Chunking, Corruption}
    import graft.functions.TextFns
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF.toDF("doc_id", "text")
    val out = Corruption.fimSplit(
      Chunking.chunkBySentences(
        TextFns.dropBlockedTerms(
          docs.withColumn("mix", TextFns.scriptMixMicro(col("text"))),
          "text", Seq("spamword")),
        "text", maxTokens = 6)
        .withColumnRenamed("chunk", "ctext"),
      "doc_id", "ctext", "fs", 1, 1)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("r4_stream_out").start()
    try {
      input.addData((1L, "keep me. and this too! more words here"),
        (2L, "drop spamword here"))
      q.processAllAvailable()
      input.addData((3L, "Привет second batch. short one?"))
      q.processAllAvailable()
      val got = spark.table("r4_stream_out")
        .select("doc_id", "chunk_id", "fim_text", "mix").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
      assert(got.nonEmpty && !got.exists(_._1 == 2L)) // blocked doc gone
      assert(got.exists(_._1 == 3L))                  // later batch flows
      assert(got.forall(_._3.contains("<fim_prefix>")))
      assert(got.filter(_._1 == 3L).forall(_._4 > 0L)) // mixed-script signal
    } finally q.stop()
  }

  test("r5: Misra-Gries heavy hitters run under watermarked windows on a stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    GraftExtensions.register(spark)
    def ts(s: String) = Timestamp.valueOf(s)
    val input = MemoryStream[(Timestamp, String)]
    // the bounded-state vocabulary sketch (TypedImperativeAggregate
    // with partial merge) must compose with streaming window aggs —
    // that is the 100 TB "trending terms per window" shape
    val out = input.toDF.toDF("ts", "text")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(expr("frequent_terms(text, 4)").as("top"))
      .select(col("window.start").as("w"), col("top"))
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("mg_stream_out").start()
    try {
      input.addData(
        (ts("2024-01-01 10:05:00"), "spark spark spark engine"),
        (ts("2024-01-01 10:10:00"), "spark data data"))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 10:20:00"), "spark rare"))
      q.processAllAvailable()
      // advance the watermark past the 10:00 window to emit it
      input.addData((ts("2024-01-01 12:00:00"), "tick"))
      q.processAllAvailable()
      val rows = spark.table("mg_stream_out").collect()
      assert(rows.nonEmpty, "10:00 window never emitted")
      val top = rows.find(_.getTimestamp(0) == ts("2024-01-01 10:00:00")).get
        .getAs[scala.collection.Seq[org.apache.spark.sql.Row]](1)
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // 'spark' appears 5× across three micro-batches of the window —
      // the merged sketch must surface it with an exact-dominant count
      assert(top.contains("spark") && top("spark") >= 3L, s"got $top")
    } finally q.stop()
  }

  test("r5 narrow op on a stream: NB langid labels micro-batches (no state, no shuffle)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.{LangId, LangSeedCorpus}
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val model = LangId.trainRef(LangSeedCorpus.train)
    val input = MemoryStream[(Long, String)]
    val out = input.toDF.toDF("doc_id", "text")
      .select(col("doc_id"), LangId.predict(model, col("text")).as("lang"))
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("langid_stream_out").start()
    try {
      input.addData((1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "学生们经常问关于世界的难题"))
      q.processAllAvailable()
      input.addData((3L, "кошка спокойно спит на столе на кухне"))
      q.processAllAvailable()
      val got = spark.table("langid_stream_out").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == Map(1L -> "en", 2L -> "zh", 3L -> "ru"))
    } finally q.stop()
  }

  test("streaming crawl ingestion: binaryFile file stream through parse+extract") {
    import java.nio.charset.StandardCharsets.UTF_8
    import java.nio.file.Files
    // the continuous-crawl shape: WARC files LAND in a directory, the
    // file stream picks them up, and the narrow parse->filter->extract
    // chain runs per micro-batch with no state
    def rec(rid: String, page: String): Array[Byte] = {
      val body = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + page).getBytes(UTF_8)
      (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:$rid>\r\n" +
        s"Content-Type: application/http; msgtype=response\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n").getBytes(UTF_8) ++
        body ++ "\r\n\r\n".getBytes(UTF_8)
    }
    def page(tag: String) =
      s"<p>${(1 to 45).map(i => s"$tag$i").mkString(" ")}</p>"
    val dir = Files.createTempDirectory("warc_stream")
    val stream = spark.readStream.format("binaryFile")
      .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
      .load(dir.toString)
      .select(org.apache.spark.sql.functions.explode(
        graft.operators.Multimodal.parseWarc(col("content"))).as("r"))
      .filter(col("r.warc_type") === "response" && col("r.http_status") === 200)
      .select(col("r.record_id").as("record_id"),
        decode(col("r.payload"), "UTF-8").as("html"))
    val out = graft.operators.Extract.extractMainContent(
      stream.toDF(), "html", "text").drop("html")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("crawl_stream_out").start()
    try {
      Files.write(dir.resolve("f1.warc"), rec("a", page("x")))
      q.processAllAvailable()
      Files.write(dir.resolve("f2.warc"), rec("b", page("y")) ++ rec("c", page("z")))
      q.processAllAvailable()
      val got = spark.table("crawl_stream_out")
        .select("record_id", "text").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got.keySet == Set("<urn:a>", "<urn:b>", "<urn:c>"))
      assert(got("<urn:b>") == (1 to 45).map(i => s"y$i").mkString(" "))
    } finally q.stop()
  }

  test("DSIR importance scoring runs unchanged on a stream (narrow + broadcast)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Dsir
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val B = 64
    val weights = (0 until B).map(b => (b, (b * 37L) % 201 - 100))
      .toDF("bucket", "w")
    val input = MemoryStream[(Long, String)]
    val out = Dsir.importanceScore(
      input.toDF.toDF("doc_id", "text"), "text", weights, B)
      .select("doc_id", "n_feats", "score_micro")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("dsir_stream_out").start()
    try {
      input.addData((1L, "spark shuffles data"), (2L, "cooking with basil"))
      q.processAllAvailable()
      input.addData((3L, "spark joins tables"))
      q.processAllAvailable()
      val streamed = spark.table("dsir_stream_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = Dsir.importanceScore(
        Seq((1L, "spark shuffles data"), (2L, "cooking with basil"),
          (3L, "spark joins tables")).toDF("doc_id", "text"),
        "text", weights, B)
        .select("doc_id", "n_feats", "score_micro").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batch && batch.size == 3)
    } finally q.stop()
  }

  test("BPE encode, domain filter, and bloom pre-filter run on a stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.{Bpe, Decontaminate}
    import graft.functions.TextFns
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

    // static artifacts trained/built in batch, applied on the stream
    val refDocs = Seq("the cat sat", "the cat ran").toDF("text")
    val model = Bpe.train(refDocs, "text", numMerges = 20, minPairCount = 1L)
    val bloom = Decontaminate.benchmarkBloom(refDocs, "text", n = 2, expectedItems = 100L)

    val input = MemoryStream[(Long, String)]
    val docs = input.toDF.toDF("doc_id", "text")
      .withColumn("url", concat(lit("https://site"), col("doc_id").cast("string"), lit(".com/x")))
    val cleaned = TextFns.dropBlockedDomains(docs, "url", Seq("site2.com"))
      // NOT bloom-contaminated (narrow might_contain; the aggregation
      // variant can't stream — this is the streaming-safe strict form)
      .filter(!exists(TextFns.hashedWordShingles(col("text"), 2),
        g => Decontaminate.mightContain(bloom, g)))
      .withColumn("toks", Bpe.encode(model, col("text")))
      .withColumn("n_bpe", size(col("toks")))
    val q = cleaned.select("doc_id", "n_bpe").writeStream
      .outputMode("append").format("memory").queryName("bpe_stream_out").start()
    try {
      input.addData((1L, "the cat sat on the mat"), // bloom hit ("the cat") → dropped
        (2L, "completely novel words"),             // blocked domain site2.com → dropped
        (3L, "unrelated clean words"))              // survives
      q.processAllAvailable()
      input.addData((4L, "more fresh tokens"))      // survives
      q.processAllAvailable()
      val got = spark.table("bpe_stream_out").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got.keySet == Set(3L, 4L))
      // token counts equal the batch encode of the same rows
      val batch = Seq((3L, "unrelated clean words"), (4L, "more fresh tokens"))
        .toDF("doc_id", "text")
        .select(col("doc_id"), size(Bpe.encode(model, col("text"))).as("n"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got == batch)
    } finally q.stop()
  }

  test("line cleaning and a batch-fit PCA projection run on a stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Pca
    import graft.functions.TextFns
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

    // fit the model in batch (the standard fit-batch/apply-stream split)
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
    val model = Pca.fit(emb, "embedding", 4)

    val input = MemoryStream[(Long, String)]
    val docs = input.toDF.toDF("doc_id", "text")
      // attach a fixture embedding per doc (any array<float> works —
      // the claim is that transform is stream-safe, i.e. narrow)
      .withColumn("embedding",
        typedLit(emb.select("embedding").first().getSeq[Float](0)))
    val out = Pca.transform(
      docs.withColumn("clean", TextFns.cleanLines(col("text"))),
      "embedding", model)
    val q = out.select("doc_id", "clean", "pca").writeStream
      .outputMode("append").format("memory").queryName("pca_stream_out").start()
    try {
      input.addData((1L, "real prose line\n####\nmore prose"))
      q.processAllAvailable()
      val r = spark.table("pca_stream_out").collect()
      assert(r.length == 1)
      assert(r(0).getString(1) == "real prose line\nmore prose")
      val batch = Pca.transform(
        emb.limit(1), "embedding", model).select("pca")
        .first().getSeq[Double](0)
      assert(r(0).getSeq[Double](2) == batch)
    } finally q.stop()
  }

  test("watermarked stream-stream interval join equals the batch interval join") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(m: Int) = new java.sql.Timestamp(1700000000000L + m * 60000L)

    val clicks = MemoryStream[(Long, java.sql.Timestamp)]
    val errors = MemoryStream[(Long, java.sql.Timestamp)]
    val joined = Streams.intervalJoinStream(
      clicks.toDF.toDF("user_id", "c_ts"),
      errors.toDF.toDF("err_user", "e_ts"),
      "user_id", "err_user", "c_ts", "e_ts",
      watermark = "10 minutes", before = "15 MINUTES", after = "0 MINUTES")
    // the join must plan as a symmetric streaming hash join with
    // watermark-bounded state, not fall back to a batch join
    val q = joined.select("user_id", "c_ts", "e_ts").writeStream
      .outputMode("append").format("memory").queryName("ssj_out").start()
    try {
      // user 1: error 5min before click (inside 15min) → match;
      // user 2: error 30min before click → no match;
      // user 3: error AFTER the click → no match (after = 0)
      clicks.addData((1L, ts(20)), (2L, ts(40)), (3L, ts(10)))
      errors.addData((1L, ts(15)), (2L, ts(10)), (3L, ts(12)))
      q.processAllAvailable()
      // second micro-batch: late-but-inside-watermark error still joins
      clicks.addData((4L, ts(50)))
      errors.addData((4L, ts(45)))
      q.processAllAvailable()
      val got = spark.table("ssj_out").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2))).toSet
      assert(got == Set((1L, ts(20), ts(15)), (4L, ts(50), ts(45))))
      // batch twin over the union of all inputs gives the same pairs
      val bc = Seq((1L, ts(20)), (2L, ts(40)), (3L, ts(10)), (4L, ts(50)))
        .toDF("user_id", "c_ts")
      val be = Seq((1L, ts(15)), (2L, ts(10)), (3L, ts(12)), (4L, ts(45)))
        .toDF("err_user", "e_ts")
      val batch = bc.join(be,
          col("user_id") === col("err_user") &&
            col("e_ts") >= col("c_ts") - expr("INTERVAL 15 MINUTES") &&
            col("e_ts") <= col("c_ts"))
        .select("user_id", "c_ts", "e_ts").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2))).toSet
      assert(got == batch)
    } finally q.stop()
  }

  test("corpusProfileApprox runs incrementally on a stream (complete mode)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Pipelines
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    val docs = input.toDF.toDF("doc_id", "text", "lang")
    // sketch aggregations (approx distinct) carry mergeable state, so
    // the release report updates per micro-batch with no extra code
    val q = Pipelines.corpusProfileApprox(docs, "text", "lang")
      .writeStream.outputMode("complete").format("memory")
      .queryName("profile_stream_out").start()
    try {
      input.addData((1L, "one two three", "en"), (2L, "vier fünf", "de"))
      q.processAllAvailable()
      input.addData((3L, "four five six seven", "en"), (4L, "one two three", "en"))
      q.processAllAvailable()
      val rows = spark.table("profile_stream_out").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(rows("en") == ((3L, 10L))) // 3 docs, 3+4+3 tokens
      assert(rows("de") == ((1L, 2L)))
      // matches the batch profile over the union of both batches
      val batch = Pipelines.corpusProfileApprox(
        Seq((1L, "one two three", "en"), (2L, "vier fünf", "de"),
          (3L, "four five six seven", "en"), (4L, "one two three", "en"))
          .toDF("doc_id", "text", "lang"), "text", "lang")
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(rows == batch)
    } finally q.stop()
  }

  test("frequent_terms sketch + eTLD enrichment run on a stream (complete mode)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.functions.TextFns
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    val docs = input.toDF.toDF("doc_id", "text", "url")
    // TypedImperativeAggregate state is mergeable, so the vocabulary
    // sketch updates per micro-batch; registeredDomain is narrow and
    // applies unchanged — group the sketch by registered domain
    val q = docs
      .withColumn("domain", TextFns.registeredDomain(col("url")))
      .groupBy("domain")
      .agg(TextFns.frequentTerms(col("text"), 8).as("sk"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("vocab_stream_out").start()
    try {
      input.addData(
        (1L, "alpha beta alpha", "https://a.shop.co.uk/x"),
        (2L, "gamma gamma", "https://b.site.com/y"))
      q.processAllAvailable()
      input.addData(
        (3L, "beta beta", "https://c.shop.co.uk/z"))
      q.processAllAvailable()
      val rows = spark.table("vocab_stream_out").collect()
        .map { r =>
          r.getString(0) -> r.getSeq[org.apache.spark.sql.Row](1)
            .map(e => e.getString(0) -> e.getLong(1)).toMap
        }.toMap
      assert(rows("shop.co.uk") == Map("alpha" -> 2L, "beta" -> 3L))
      assert(rows("site.com") == Map("gamma" -> 2L))
    } finally q.stop()
  }

  test("sessionize produces gap-bounded sessions") {
    val events = spark.read.schema(Streams.eventsSchema).parquet(s"$sf001/events.parquet")
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    val sessions = Streams.sessionize(events, watermark = "1 hour", gap = "30 minutes")
    val rows = sessions.collect()
    assert(rows.nonEmpty)
    // session bounds sane: start < end, counts positive
    assert(rows.forall(r =>
      r.getTimestamp(0).getTime < r.getTimestamp(1).getTime && r.getLong(3) > 0))
  }
  test("deltaSink: micro-batches become transactional Delta commits") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, String)]
    val dir = java.nio.file.Files.createTempDirectory("graft_delta_sink").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_delta_ckpt2").toString
    val q = Streams.deltaSink(input.toDF.toDF("id", "v"), dir, ckpt)
    try {
      input.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      input.addData((3L, "c"))
      q.processAllAvailable()
      // two non-empty batches -> commits 0 and 1, all rows present
      assert(graft.sources.DeltaScan.latestVersion(spark, dir) == 1L)
      val all = graft.sources.DeltaScan.read(spark, dir)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(all == Set((1L, "a"), (2L, "b"), (3L, "c")))
      // time travel isolates the first micro-batch
      val v0 = graft.sources.DeltaScan.read(spark, dir, versionAsOf = Some(0L))
        .collect().map(_.getLong(0)).toSet
      assert(v0 == Set(1L, 2L))
    } finally q.stop()
  }

  test("funnelStream: chain advances across micro-batches, final state equals the batch funnel") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val steps = Seq("view", "click", "purchase")
    val out = Streams.funnelStream(
      input.toDF.toDF("event_id", "ts", "user_id", "event_type", "value"),
      "10 minutes", steps)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("funnel_stream_out").start()
    try {
      input.addData(
        (1L, ts("2024-01-01 10:00:00"), 1L, "view", 0.0),
        (2L, ts("2024-01-01 10:01:00"), 1L, "click", 0.0),
        (3L, ts("2024-01-01 09:00:00"), 2L, "click", 0.0), // click before any view
        (4L, ts("2024-01-01 09:30:00"), 2L, "view", 0.0),
        (5L, ts("2024-01-01 10:00:00"), 3L, "error", 0.0)) // irrelevant only
      q.processAllAvailable()
      input.addData(
        (6L, ts("2024-01-01 10:05:00"), 1L, "purchase", 0.0), // completes u1
        (7L, ts("2024-01-01 11:00:00"), 2L, "click", 0.0))    // now after u2's view
      q.processAllAvailable()
      val rows = spark.table("funnel_stream_out")
        .selectExpr("user_id", "depth").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      // per-user LAST emission is the live chain
      val last = rows.zipWithIndex.groupBy(_._1._1)
        .map { case (u, rs) => u -> rs.maxBy(_._2)._1._2 }
      assert(last == Map(1L -> 3L, 2L -> 2L)) // u3 never emitted
      // equals the batch funnel over the union of batches
      val batch = graft.operators.Events.funnel(
          Seq(
            (1L, 1L, ts("2024-01-01 10:00:00"), "view"),
            (2L, 1L, ts("2024-01-01 10:01:00"), "click"),
            (3L, 2L, ts("2024-01-01 09:00:00"), "click"),
            (4L, 2L, ts("2024-01-01 09:30:00"), "view"),
            (6L, 1L, ts("2024-01-01 10:05:00"), "purchase"),
            (7L, 2L, ts("2024-01-01 11:00:00"), "click")
          ).toDF("event_id", "user_id", "ts", "event_type"),
          "user_id", "ts", "event_type", steps)
        .selectExpr("user_id", "depth").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(last == batch)
    } finally q.stop()
  }

  test("funnelStream: same-millisecond distinct-micros events keep batch parity") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def tsUs(base: String, plusMicros: Int) = {
      val t = Timestamp.valueOf(base)
      val r = new Timestamp(t.getTime)
      r.setNanos(t.getNanos + plusMicros * 1000)
      r
    }
    val v = tsUs("2024-01-01 10:00:00", 0)
    val c = tsUs("2024-01-01 10:00:00", 500) // +500 µs: same millisecond
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val out = Streams.funnelStream(
      input.toDF.toDF("event_id", "ts", "user_id", "event_type", "value"),
      "10 minutes", Seq("view", "click"))
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("funnel_us_out").start()
    try {
      input.addData((1L, v, 1L, "view", 0.0), (2L, c, 1L, "click", 0.0))
      q.processAllAvailable()
      val r = spark.table("funnel_us_out").orderBy(org.apache.spark.sql.functions.desc("depth"))
        .head()
      assert(r.getAs[Long]("depth") == 2L) // micros-exact strictly-after
      assert(r.getAs[Seq[Timestamp]]("stages")(1) == c) // micros round-trip
    } finally q.stop()
  }

  test("funnelStreamOrdered: SHUFFLED arrival order across batches matches the batch funnel") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val steps = Seq("view", "click", "purchase")
    // the event set, listed in EVENT-TIME order:
    //   u1: view 10:00, click 10:01, purchase 10:05   -> depth 3
    //   u2: click 09:00 (pre-view), view 09:30, click 11:00 -> depth 2
    //   u3: purchase 10:00 only                        -> depth 0
    val all = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "view", 0.0),
      (2L, ts("2024-01-01 10:01:00"), 1L, "click", 0.0),
      (3L, ts("2024-01-01 10:05:00"), 1L, "purchase", 0.0),
      (4L, ts("2024-01-01 09:00:00"), 2L, "click", 0.0),
      (5L, ts("2024-01-01 09:30:00"), 2L, "view", 0.0),
      (6L, ts("2024-01-01 11:00:00"), 2L, "click", 0.0),
      (7L, ts("2024-01-01 10:00:00"), 3L, "purchase", 0.0))
    // delivery order is ADVERSARIAL: u1's purchase arrives FIRST, the
    // click next batch, the view LAST — funnelStream (arrival-order)
    // would lock u1 at depth 0 forever; the ordered variant must not
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val out = Streams.funnelStreamOrdered(
      input.toDF.toDF("event_id", "ts", "user_id", "event_type", "value"),
      "2 hours", steps)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("funnel_ord_out").start()
    try {
      input.addData(all(2), all(5))          // purchase(u1) + late-stage click(u2)
      q.processAllAvailable()
      input.addData(all(1), all(3), all(6))  // click(u1), early click(u2), purchase(u3)
      q.processAllAvailable()
      input.addData(all(0), all(4))          // the views arrive LAST
      q.processAllAvailable()
      // push the watermark far past every buffered event so the chains
      // finalize (any user's future event advances the global watermark;
      // other groups wake via their event-time timeout)
      input.addData((99L, ts("2024-01-02 12:00:00"), 9L, "view", 0.0))
      q.processAllAvailable()
      input.addData((100L, ts("2024-01-02 13:00:00"), 9L, "error", 0.0))
      q.processAllAvailable()
      val rows = spark.table("funnel_ord_out")
        .selectExpr("user_id", "depth").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val last = rows.zipWithIndex.groupBy(_._1._1)
        .map { case (u, rs) => u -> rs.maxBy(_._2)._1._2 }
      val batch = graft.operators.Events.funnel(
          all.map { case (id, t, u, typ, _) => (id, u, t, typ) }
            .toDF("event_id", "user_id", "ts", "event_type"),
          "user_id", "ts", "event_type", steps)
        .selectExpr("user_id", "depth").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // batch funnel emits u3 with depth 0; the stream only emits on
      // ADVANCE, so u3 (never past stage 0... actually never reaches
      // stage 1) appears in neither map with depth > 0
      assert(last - 9L == batch.filter(_._2 > 0L) - 9L,
        s"stream=$last batch=$batch")
      assert((last - 9L) == Map(1L -> 3L, 2L -> 2L))
      // and funnelStream (arrival-order) demonstrably DIVERGES on this
      // delivery: u1 locks below depth 3 because its view arrived last
      val input2 = MemoryStream[(Long, Timestamp, Long, String, Double)]
      val out2 = Streams.funnelStream(
        input2.toDF.toDF("event_id", "ts", "user_id", "event_type", "value"),
        "2 hours", steps)
      val q2 = out2.writeStream.outputMode("append").format("memory")
        .queryName("funnel_ord_cmp").start()
      try {
        input2.addData(all(2), all(5))
        q2.processAllAvailable()
        input2.addData(all(1), all(3), all(6))
        q2.processAllAvailable()
        input2.addData(all(0), all(4))
        q2.processAllAvailable()
        val cmp = spark.table("funnel_ord_cmp")
          .selectExpr("user_id", "depth").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        val cmpLast = cmp.zipWithIndex.groupBy(_._1._1)
          .map { case (u, rs) => u -> rs.maxBy(_._2)._1._2 }
        assert(cmpLast.getOrElse(1L, 0L) < 3L,
          "arrival-order funnel unexpectedly reached depth 3 on shuffled delivery")
      } finally q2.stop()
    } finally q.stop()
  }

  test("funnelStreamOrdered: equal-timestamp events keep strictly-after semantics") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val t0 = ts("2024-01-01 10:00:00")
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val out = Streams.funnelStreamOrdered(
      input.toDF.toDF("event_id", "ts", "user_id", "event_type", "value"),
      "10 minutes", Seq("view", "click"))
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("funnel_ord_eq").start()
    try {
      // same MICROSECOND view+click: click is NOT strictly after → depth 1
      input.addData((1L, t0, 1L, "view", 0.0), (2L, t0, 1L, "click", 0.0))
      q.processAllAvailable()
      input.addData((9L, ts("2024-01-01 12:00:00"), 7L, "view", 0.0))
      q.processAllAvailable()
      input.addData((10L, ts("2024-01-01 13:00:00"), 7L, "error", 0.0))
      q.processAllAvailable()
      val u1 = spark.table("funnel_ord_eq")
        .filter(col("user_id") === 1L).selectExpr("max(depth)").head().getLong(0)
      assert(u1 == 1L, s"equal-ts click advanced the chain (depth $u1)")
      // matches the batch operator on the same events
      val batch = graft.operators.Events.funnel(
          Seq((1L, 1L, t0, "view"), (2L, 1L, t0, "click"))
            .toDF("event_id", "user_id", "ts", "event_type"),
          "user_id", "ts", "event_type", Seq("view", "click"))
        .selectExpr("depth").head().getLong(0)
      assert(batch == 1L)
    } finally q.stop()
  }

  test("funnelStreamOrdered: users with no funnel events never grow the state store") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val out = Streams.funnelStreamOrdered(
      input.toDF.toDF("event_id", "ts", "user_id", "event_type", "value"),
      "1 minute", Seq("view", "click"))
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("funnel_ord_state").start()
    try {
      // 50 error-only users + 1 real funnel user
      input.addData((1 to 50).map(i =>
        (i.toLong, ts("2024-01-01 10:00:00"), 100L + i, "error", 0.0)) :+
        (99L, ts("2024-01-01 10:00:00"), 1L, "view", 0.0): _*)
      q.processAllAvailable()
      input.addData((100L, ts("2024-01-01 11:00:00"), 1L, "click", 0.0))
      q.processAllAvailable()
      val state = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(state <= 2L,
        s"state store grew to $state rows — error-only users must not be tracked")
    } finally q.stop()
  }

  test("funnelStreamOrdered: idleTtl expires abandoned state after the buffer drains") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val out = Streams.funnelStreamOrdered(
      input.toDF.toDF("event_id", "ts", "user_id", "event_type", "value"),
      "1 minute", Seq("view", "click"), idleTtl = Some("10 minutes"))
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("funnel_ord_ttl").start()
    try {
      input.addData((1L, ts("2024-01-01 10:00:00"), 1L, "view", 0.0))
      q.processAllAvailable()
      // advance the watermark past the event + TTL; user 1's state
      // expires, then a LATE re-appearance restarts from empty chain
      input.addData((2L, ts("2024-01-01 11:00:00"), 9L, "view", 0.0))
      q.processAllAvailable()
      input.addData((3L, ts("2024-01-01 12:00:00"), 9L, "view", 0.0))
      q.processAllAvailable()
      input.addData((4L, ts("2024-01-01 11:30:00"), 1L, "click", 0.0))
      q.processAllAvailable()
      input.addData((5L, ts("2024-01-01 13:00:00"), 9L, "view", 0.0))
      q.processAllAvailable()
      val rows = spark.table("funnel_ord_ttl")
        .selectExpr("user_id", "depth").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val u1Last = rows.zipWithIndex.filter(_._1._1 == 1L)
        .maxBy(_._2)._1._2
      // the view expired before the click arrived → the click alone
      // cannot advance past stage 0 → u1's last committed depth is 1
      // from the original view emission, never 2
      assert(u1Last == 1L, s"expected expired chain, got depth $u1Last (rows=${rows.toSeq})")
    } finally q.stop()
  }

  test("asofJoinStream: shuffled cross-batch delivery matches batch asofJoinTolerance (left and inner)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.JoinKey.{Closest, Equi}
    import java.sql.Timestamp
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    // quotes (right) and trades (left), user 1; user 2 trades with no
    // quote ever; trade 23's nearest quote is 10 min stale (tolerance 5)
    val quotes = Seq(
      (10L, ts("2024-01-01 10:00:00"), 1L, "quote", 1.0),
      (11L, ts("2024-01-01 10:02:00"), 1L, "quote", 2.0),
      (12L, ts("2024-01-01 10:10:00"), 1L, "quote", 3.0))
    val trades = Seq(
      (20L, ts("2024-01-01 10:01:00"), 1L, "trade", 100.0),
      (21L, ts("2024-01-01 10:02:00"), 1L, "trade", 101.0), // == quote 11 ts: inclusive
      (22L, ts("2024-01-01 10:05:00"), 1L, "trade", 102.0),
      (23L, ts("2024-01-01 10:20:00"), 1L, "trade", 103.0), // stale (diff 10 min)
      (24L, ts("2024-01-01 10:00:30"), 2L, "trade", 104.0)) // user with no quotes
    def batchExpected(how: String): Set[(Long, Long, Option[Long])] = {
      val l = trades.toDF("event_id", "ts", "user_id", "event_type", "value")
        .select("user_id", "ts", "event_id", "value")
      val r = quotes.toDF("right_event_id", "right_ts", "r_user", "event_type", "right_value")
        .select("r_user", "right_ts", "right_event_id", "right_value")
      Tidier.from(l).asofJoinTolerance(Tidier.from(r), how,
          expr("INTERVAL '5' MINUTE"),
          Equi("user_id", "r_user"), Closest("ts", ">=", "right_ts"))
        .df.collect()
        .map(row => (row.getAs[Long]("user_id"), row.getAs[Long]("event_id"),
          Option(row.getAs[Any]("right_event_id")).map(_.asInstanceOf[Long])))
        .toSet
    }
    for (how <- Seq("left", "inner")) {
      val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
      val out = Streams.asofJoinStream(
        input.toDF.toDF("event_id", "ts", "user_id", "event_type", "value"),
        "30 minutes", "trade", "quote", how = how, toleranceSeconds = Some(300L))
      val name = s"asof_stream_$how"
      val q = out.writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      try {
        // ADVERSARIAL delivery: trades before their quotes, shuffled
        input.addData(trades(0), trades(3))            // trades first
        q.processAllAvailable()
        input.addData(quotes(1), trades(2), trades(4)) // later quote before earlier one
        q.processAllAvailable()
        input.addData(quotes(0), trades(1), quotes(2)) // earliest quote LAST
        q.processAllAvailable()
        // sentinel events (non-join type) advance the watermark so the
        // buffered trades finalize
        input.addData((98L, ts("2024-01-01 12:00:00"), 9L, "error", 0.0))
        q.processAllAvailable()
        input.addData((99L, ts("2024-01-01 13:00:00"), 9L, "error", 0.0))
        q.processAllAvailable()
        val got = spark.table(name).collect()
          .map(row => (row.getAs[Long]("user_id"), row.getAs[Long]("event_id"),
            Option(row.getAs[Any]("right_event_id")).map(_.asInstanceOf[Long])))
          .toSet
        assert(got == batchExpected(how), s"how=$how")
        if (how == "inner") {
          // the stale trade and the quote-less user are gone entirely
          assert(!got.exists(_._2 == 23L) && !got.exists(_._1 == 2L))
        } else {
          assert(got.contains((1L, 23L, scala.None)) && got.contains((2L, 24L, scala.None)))
        }
        // matched values ride along correctly: trade 22 -> quote 11
        val m22 = spark.table(name).filter(col("event_id") === 22L).head()
        assert(m22.getAs[Double]("right_value") == 2.0)
      } finally q.stop()
    }
  }

  test("asofJoinStream: right buffer compacts to one finalized row; latest-below wins ties") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val out = Streams.asofJoinStream(
      input.toDF.toDF("event_id", "ts", "user_id", "event_type", "value"),
      "10 minutes", "trade", "quote")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("asof_compact").start()
    try {
      // two quotes at the SAME timestamp: the larger (event_id, value)
      // payload must win (the batch payload-sorts-last rule)
      input.addData(
        (10L, ts("2024-01-01 10:00:00"), 1L, "quote", 1.0),
        (11L, ts("2024-01-01 10:00:00"), 1L, "quote", 2.0))
      q.processAllAvailable()
      // advance the watermark far past the quotes: both finalize, the
      // buffer compacts to the single latest — which must STILL match
      // a much later trade (carried-forward as-of semantics)
      input.addData((98L, ts("2024-01-01 11:00:00"), 9L, "error", 0.0))
      q.processAllAvailable()
      input.addData((20L, ts("2024-01-01 11:30:00"), 1L, "trade", 100.0))
      q.processAllAvailable()
      input.addData((99L, ts("2024-01-01 13:00:00"), 9L, "error", 0.0))
      q.processAllAvailable()
      input.addData((100L, ts("2024-01-01 14:00:00"), 9L, "error", 0.0))
      q.processAllAvailable()
      val rows = spark.table("asof_compact").collect()
        .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("right_event_id"),
          r.getAs[Double]("right_value")))
      assert(rows.toSeq == Seq((20L, 11L, 2.0)), s"got ${rows.toSeq}")
    } finally q.stop()
  }

  test("funnelStreamOrdered: withinSeconds conversion window matches the batch windowed funnel") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val steps = Seq("view", "click", "purchase")
    // u1: purchase 90 min after view → outside the 1 h window, depth 2
    // u2: click 90 min after view → depth 1
    // u3: all three inside the hour → depth 3
    val all = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "view", 0.0),
      (2L, ts("2024-01-01 10:30:00"), 1L, "click", 0.0),
      (3L, ts("2024-01-01 11:30:00"), 1L, "purchase", 0.0),
      (4L, ts("2024-01-01 10:00:00"), 2L, "view", 0.0),
      (5L, ts("2024-01-01 11:30:00"), 2L, "click", 0.0),
      (6L, ts("2024-01-01 10:00:00"), 3L, "view", 0.0),
      (7L, ts("2024-01-01 10:10:00"), 3L, "click", 0.0),
      (8L, ts("2024-01-01 10:50:00"), 3L, "purchase", 0.0))
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val out = Streams.funnelStreamOrdered(
      input.toDF.toDF("event_id", "ts", "user_id", "event_type", "value"),
      "3 hours", steps, withinSeconds = Some(3600L))
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("funnel_win_out").start()
    try {
      // shuffled delivery across batches
      input.addData(all(2), all(4), all(7))
      q.processAllAvailable()
      input.addData(all(0), all(6), all(3))
      q.processAllAvailable()
      input.addData(all(1), all(5))
      q.processAllAvailable()
      input.addData((98L, ts("2024-01-02 12:00:00"), 9L, "view", 0.0))
      q.processAllAvailable()
      input.addData((99L, ts("2024-01-02 13:00:00"), 9L, "error", 0.0))
      q.processAllAvailable()
      val rows = spark.table("funnel_win_out")
        .selectExpr("user_id", "depth").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val last = rows.zipWithIndex.groupBy(_._1._1)
        .map { case (u, rs) => u -> rs.maxBy(_._2)._1._2 }
      val batch = graft.operators.Events.funnel(
          all.map { case (id, t, u, typ, _) => (id, u, t, typ) }
            .toDF("event_id", "user_id", "ts", "event_type"),
          "user_id", "ts", "event_type", steps, withinSeconds = Some(3600L))
        .selectExpr("user_id", "depth").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(last - 9L == batch.filter(_._2 > 0L) - 9L,
        s"stream=$last batch=$batch")
      assert((last - 9L) == Map(1L -> 2L, 2L -> 1L, 3L -> 3L))
    } finally q.stop()
  }

  test("deltaSinkBatch is exactly-once: re-delivered batch ids are skipped, txn survives checkpointing") {
    import graft.sources.{DeltaScan, DeltaWrite}
    val dir = java.nio.file.Files.createTempDirectory("graft_txn_sink").toString + "/t"
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val b1 = Seq((3L, "c")).toDF("id", "v")

    assert(Streams.deltaSinkBatch(b0, dir, "app1", 0L))
    assert(Streams.deltaSinkBatch(b1, dir, "app1", 1L))
    // the crash window: batch 1 re-delivered after its commit landed
    assert(!Streams.deltaSinkBatch(b1, dir, "app1", 1L))
    assert(!Streams.deltaSinkBatch(b0, dir, "app1", 0L))
    assert(DeltaScan.latestVersion(spark, dir) == 1L) // no double commit
    assert(DeltaScan.read(spark, dir).count() == 3L)  // no double rows
    assert(DeltaWrite.lastTxnVersion(spark, dir, "app1").contains(1L))

    // a DIFFERENT app's ids are independent
    assert(DeltaWrite.lastTxnVersion(spark, dir, "app2").isEmpty)
    assert(Streams.deltaSinkBatch(Seq((9L, "z")).toDF("id", "v"), dir, "app2", 0L))

    // checkpoint + truncate the JSON tail: the txn marker must survive
    // via the checkpoint parquet (protocol behavior)
    DeltaWrite.checkpoint(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (0L to 2L).foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_delta_log", f"$v%020d.json"), false)
    }
    assert(DeltaWrite.lastTxnVersion(spark, dir, "app1").contains(1L))
    assert(DeltaWrite.lastTxnVersion(spark, dir, "app2").contains(0L))
    assert(!Streams.deltaSinkBatch(b1, dir, "app1", 1L)) // still skipped
    assert(DeltaScan.read(spark, dir).count() == 4L)

    // MULTI-PART checkpoint layout (external writers): fabricate it by
    // splitting the single-part file — the txn markers must still be
    // found, or re-delivery double-appends
    val logDir = new org.apache.hadoop.fs.Path(s"$dir/_delta_log")
    val v = 2L
    val single = new org.apache.hadoop.fs.Path(logDir, f"$v%020d.checkpoint.parquet")
    val cpDf = spark.read.parquet(single.toString).cache()
    val half1 = cpDf.filter(col("txn").isNotNull)
    val half2 = cpDf.filter(col("txn").isNull)
    def writeOne(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = new org.apache.hadoop.fs.Path(logDir, s".tmp-$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = fs.listStatus(tmp).map(_.getPath).find(_.getName.endsWith(".parquet")).get
      fs.rename(part, new org.apache.hadoop.fs.Path(logDir, name))
      fs.delete(tmp, true)
    }
    writeOne(half1, f"$v%020d.checkpoint.${1}%010d.${2}%010d.parquet")
    writeOne(half2, f"$v%020d.checkpoint.${2}%010d.${2}%010d.parquet")
    fs.delete(single, false)
    val lc = fs.create(new org.apache.hadoop.fs.Path(logDir, "_last_checkpoint"), true)
    try lc.write(s"""{"version":$v,"size":${cpDf.count()},"parts":2}""".getBytes("UTF-8"))
    finally lc.close()
    cpDf.unpersist()
    assert(DeltaWrite.lastTxnVersion(spark, dir, "app1").contains(1L))
    assert(!Streams.deltaSinkBatch(b1, dir, "app1", 1L)) // STILL skipped
  }

  test("deltaSinkWithRollup: the serving aggregate tracks every micro-batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, String, Long)]
    val base = java.nio.file.Files.createTempDirectory("graft_roll_sink").toString
    val dir = s"$base/t"; val roll = s"$base/r"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_roll_ckpt").toString
    val q = Streams.deltaSinkWithRollup(
      input.toDF.toDF("id", "lang", "chars"), dir, ckpt, roll,
      keyCols = Seq("lang"), sumCols = Seq("chars"))
    def rollup(): Map[String, (Long, java.math.BigDecimal)] =
      graft.operators.Rollup.read(spark, roll)
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDecimal(2)))).toMap
    try {
      input.addData((1L, "en", 10L), (2L, "de", 20L))
      q.processAllAvailable()
      assert(rollup() === Map(
        "en" -> ((1L, new java.math.BigDecimal("10.000000"))),
        "de" -> ((1L, new java.math.BigDecimal("20.000000")))))
      input.addData((3L, "en", 5L))
      q.processAllAvailable()
      // the rollup advanced with the second commit — increment-only
      assert(rollup() === Map(
        "en" -> ((2L, new java.math.BigDecimal("15.000000"))),
        "de" -> ((1L, new java.math.BigDecimal("20.000000")))))
      assert(graft.operators.Rollup.corpusVersion(spark, roll) ===
        graft.sources.DeltaScan.latestVersion(spark, dir))
    } finally q.stop()
  }

  test("media signatures run on a stream: image phash + audio fingerprint") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Multimodal
    import graft.plans.ImageCodec
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // narrow per-row expressions: the streaming plan is the batch plan
    val png = ImageCodec.grayPng(16, 16, (x, y) => 30 + (x * 11 + y * 5) % 190)
    val wav = SparkEntry.wavBytes(8000,
      (0 until 260).map(i => (((i * 31) % 997) - 498).toShort))
    val input = MemoryStream[(Long, Array[Byte], Array[Byte])]
    val out = input.toDF.toDF("id", "img", "audio")
      .select(col("id"),
        Multimodal.imageHash(col("img"), "dhash").as("ph"),
        Multimodal.audioFingerprint(col("audio")).as("af"))
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("media_sig_stream").start()
    try {
      input.addData((1L, png, wav))
      q.processAllAvailable()
      val got = spark.table("media_sig_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val expect = Seq((1L, png, wav)).toDF("id", "img", "audio")
        .select(col("id"),
          Multimodal.imageHash(col("img"), "dhash"),
          Multimodal.audioFingerprint(col("audio")))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(got.toSeq == expect.toSeq && got.nonEmpty)
    } finally q.stop()
  }

  test("deltaUpsertSink: CDC stream materializes last-writer-wins; re-delivery skipped") {
    import graft.sources.DeltaScan
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert_sink").toString + "/t"
    val appId = "test-upsert-app"
    def batch(rows: (Long, String, Long)*): org.apache.spark.sql.DataFrame =
      rows.toDF("id", "v", "seq")
    // batch 0 creates; in-batch dup of key 1 collapses to the max seq
    val (u0, i0) = Streams.deltaUpsertSinkBatch(
      batch((1L, "a0", 1L), (1L, "a1", 2L), (2L, "b0", 1L)),
      dir, Seq("id"), appId, 0L, dedupOrder = Some("seq"))
    assert((u0, i0) == ((0L, 2L)))
    // batch 1 updates key 1, inserts key 3
    val (u1, i1) = Streams.deltaUpsertSinkBatch(
      batch((1L, "a2", 3L), (3L, "c0", 1L)), dir, Seq("id"), appId, 1L)
    assert((u1, i1) == ((1L, 1L)))
    // RE-DELIVERY of batch 1 (crash between commit and checkpoint
    // advance): must be a no-op, not a second merge
    val vBefore = DeltaScan.latestVersion(spark, dir)
    assert(Streams.deltaUpsertSinkBatch(
      batch((1L, "aX", 9L), (3L, "cX", 9L)), dir, Seq("id"), appId, 1L) == ((0L, 0L)))
    assert(DeltaScan.latestVersion(spark, dir) == vBefore)
    val rows = DeltaScan.read(spark, dir).select("id", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set((1L, "a2"), (2L, "b0"), (3L, "c0")))
    // and through the real streaming sink: two micro-batches of upserts
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String, Long)]
    val dir2 = java.nio.file.Files.createTempDirectory("graft_upsert_sink2").toString + "/t"
    val ck = java.nio.file.Files.createTempDirectory("graft_upsert_ck").toString
    val q = Streams.deltaUpsertSink(
      input.toDF().toDF("id", "v", "seq"), dir2, Seq("id"), ck,
      dedupOrder = Some("seq"))
    try {
      input.addData((1L, "x1", 1L), (2L, "y1", 1L)); q.processAllAvailable()
      input.addData((1L, "x2", 2L), (3L, "z1", 1L)); q.processAllAvailable()
      val got = DeltaScan.read(spark, dir2).select("id", "v").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == Set((1L, "x2"), (2L, "y1"), (3L, "z1")))
    } finally q.stop()
  }

  test("deltaSinkBatch auto-checkpoints every N commits; replay stays exact after log cleanup") {
    import graft.sources.{DeltaScan, DeltaWrite}
    val dir = java.nio.file.Files.createTempDirectory("graft_auto_ckpt").toString + "/t"
    (0L until 11L).foreach { b =>
      assert(Streams.deltaSinkBatch(Seq((b, s"v$b")).toDF("id", "v"), dir, "appCk", b,
        checkpointEvery = 5))
    }
    val log = new java.io.File(s"$dir/_delta_log")
    assert(new java.io.File(log, "00000000000000000005.checkpoint.parquet").exists())
    assert(new java.io.File(log, "00000000000000000010.checkpoint.parquet").exists())
    // clean the pre-checkpoint JSONs (the operational payoff): replay
    // + the exactly-once marker must both survive
    (0L to 9L).foreach { v => new java.io.File(log, f"$v%020d.json").delete(); () }
    assert(DeltaScan.read(spark, dir).count() == 11L)
    assert(DeltaWrite.lastTxnVersion(spark, dir, "appCk").contains(10L))
    assert(!Streams.deltaSinkBatch(Seq((99L, "x")).toDF("id", "v"), dir, "appCk", 10L,
      checkpointEvery = 5))
  }

  test("icebergSinkBatch is exactly-once: re-delivered ids skipped, txn marker survives snapshot expiry") {
    import graft.sources.{IcebergScan, IcebergWrite}
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_txn_sink").toString + "/t"
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val b1 = Seq((3L, "c")).toDF("id", "v")

    assert(Streams.icebergSinkBatch(b0, dir, "app1", 0L))
    assert(Streams.icebergSinkBatch(b1, dir, "app1", 1L))
    // the crash window: batch 1 re-delivered after its commit landed
    assert(!Streams.icebergSinkBatch(b1, dir, "app1", 1L))
    assert(!Streams.icebergSinkBatch(b0, dir, "app1", 0L))
    assert(IcebergScan.read(spark, dir).count() == 3L) // no double rows
    assert(IcebergWrite.lastTxnVersion(spark, dir, "app1").contains(1L))

    // a DIFFERENT app's ids are independent
    assert(IcebergWrite.lastTxnVersion(spark, dir, "app2").isEmpty)
    assert(Streams.icebergSinkBatch(Seq((9L, "z")).toDF("id", "v"), dir, "app2", 0L))
    assert(IcebergWrite.lastTxnVersion(spark, dir, "app1").contains(1L),
      "another app's commit must carry app1's marker forward")

    // non-sink commits (delete, compact) carry the markers too
    IcebergWrite.deleteWhere(spark, dir, col("id") === 9L)
    IcebergWrite.compact(spark, dir, smallFileBytes = 1L << 20)
    assert(IcebergWrite.lastTxnVersion(spark, dir, "app1").contains(1L))

    // snapshot EXPIRY must not lose the marker (properties live in the
    // metadata JSON, not in any snapshot) — the trap a summary-based
    // marker would fall into
    IcebergWrite.expireSnapshots(spark, dir, keepLast = 1)
    assert(IcebergWrite.lastTxnVersion(spark, dir, "app1").contains(1L))
    assert(!Streams.icebergSinkBatch(b1, dir, "app1", 1L)) // still skipped
    assert(IcebergScan.read(spark, dir).count() == 3L)
  }

  test("icebergUpsertSink: CDC stream materializes last-writer-wins; re-delivery skipped") {
    import graft.sources.IcebergScan
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_upsert_sink").toString + "/t"
    val appId = "test-ice-upsert-app"
    def batch(rows: (Long, String, Long)*): org.apache.spark.sql.DataFrame =
      rows.toDF("id", "v", "seq")
    // batch 0 creates; in-batch dup of key 1 collapses to the max seq
    val (u0, i0) = Streams.icebergUpsertSinkBatch(
      batch((1L, "a0", 1L), (1L, "a1", 2L), (2L, "b0", 1L)),
      dir, Seq("id"), appId, 0L, dedupOrder = Some("seq"))
    assert((u0, i0) == ((0L, 2L)))
    // batch 1 updates key 1, inserts key 3
    val (u1, i1) = Streams.icebergUpsertSinkBatch(
      batch((1L, "a2", 3L), (3L, "c0", 1L)), dir, Seq("id"), appId, 1L)
    assert((u1, i1) == ((1L, 1L)))
    // RE-DELIVERY of batch 1 must be a no-op, not a second merge
    assert(Streams.icebergUpsertSinkBatch(
      batch((1L, "aX", 9L), (3L, "cX", 9L)), dir, Seq("id"), appId, 1L) == ((0L, 0L)))
    val rows = IcebergScan.read(spark, dir).select("id", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set((1L, "a2"), (2L, "b0"), (3L, "c0")))
    // and through the real streaming sink: two micro-batches of upserts
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String, Long)]
    val dir2 = java.nio.file.Files.createTempDirectory("graft_ice_upsert2").toString + "/t"
    val ck = java.nio.file.Files.createTempDirectory("graft_ice_upsert_ck").toString
    val q = Streams.icebergUpsertSink(
      input.toDF().toDF("id", "v", "seq"), dir2, Seq("id"), ck,
      dedupOrder = Some("seq"))
    try {
      input.addData((1L, "x1", 1L), (2L, "y1", 1L)); q.processAllAvailable()
      input.addData((1L, "x2", 2L), (3L, "z1", 1L)); q.processAllAvailable()
      val got = IcebergScan.read(spark, dir2).select("id", "v").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == Set((1L, "x2"), (2L, "y1"), (3L, "z1")))
    } finally q.stop()
  }

  test("DeltaStreamProvider: micro-batches track commits, restart resumes, CoW delete is loud") {
    import graft.sources.{DeltaScan, DeltaWrite}
    val dir = java.nio.file.Files.createTempDirectory("graft_dstream").toString + "/t"
    val ck = java.nio.file.Files.createTempDirectory("graft_dstream_ck").toString
    DeltaWrite.create(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)

    // foreachBatch sink: the memory sink cannot recover from a
    // checkpoint, and recovery is exactly what this test proves
    val delivered = scala.collection.mutable.ListBuffer[Long]()
    def startStream() = spark.readStream
      .format(classOf[graft.streaming.DeltaStreamProvider].getName)
      .load(dir)
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val ids = b.collect().map(_.getLong(0))
        delivered.synchronized { delivered ++= ids }
        ()
      }.start()

    val q = startStream()
    try {
      q.processAllAvailable()
      assert(delivered.synchronized(delivered.toSet) == Set(1L, 2L),
        "existing content must arrive as the first batch")
      // live append lands in the next micro-batch
      DeltaWrite.append(spark, Seq((3L, "c")).toDF("id", "v"), dir)
      q.processAllAvailable()
      assert(delivered.synchronized(delivered.toSet) == Set(1L, 2L, 3L))
      // compaction (dataChange=false) must NOT re-emit rows
      DeltaWrite.compact(spark, dir, smallFileBytes = 1L << 20, targetFiles = 1)
      q.processAllAvailable()
      assert(delivered.synchronized(delivered.size) == 3,
        "a compaction commit must not duplicate rows in the stream")
    } finally q.stop()

    // append while the stream is DOWN; restart from the checkpoint —
    // exactly the missed rows arrive, no re-delivery of old ones
    DeltaWrite.append(spark, Seq((4L, "d"), (5L, "e")).toDF("id", "v"), dir)
    val q2 = startStream()
    try {
      q2.processAllAvailable()
      assert(delivered.synchronized(delivered.sorted.toSeq) == Seq(1L, 2L, 3L, 4L, 5L),
        s"checkpoint restart must resume at the committed version, got $delivered")
      // a copy-on-write delete breaks the append-only contract loudly
      DeltaWrite.deleteWhere(spark, dir, col("id") === 1L)
      DeltaWrite.append(spark, Seq((6L, "f")).toDF("id", "v"), dir)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      def mentionsRetract(t: Throwable): Boolean =
        t != null && (Option(t.getMessage).exists(_.contains("retract")) ||
          mentionsRetract(t.getCause))
      assert(mentionsRetract(e))
    } finally q2.stop()
  }

  test("DeltaStreamProvider CDF mode: a mid-stream DELETE arrives as change " +
    "rows, exactly-once across restart; non-CDF DML stays loud") {
    import graft.sources.{DeltaScan, DeltaWrite}
    val dir = java.nio.file.Files.createTempDirectory("graft_dstream_cdf").toString + "/t"
    val ck = java.nio.file.Files.createTempDirectory("graft_dstream_cdf_ck").toString
    DeltaWrite.create(spark, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), dir)
    DeltaWrite.enableChangeDataFeed(spark, dir)

    // (change_type, id, commit_version) triples, exactly-once asserted
    val delivered = scala.collection.mutable.ListBuffer[(String, Long, Long)]()
    def startStream() = spark.readStream
      .format(classOf[graft.streaming.DeltaStreamProvider].getName)
      .option("readChangeFeed", "true")
      .load(dir)
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val rows = b.select("_change_type", "id", "_commit_version")
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        delivered.synchronized { delivered ++= rows }
        ()
      }.start()

    val q = startStream()
    try {
      q.processAllAvailable()
      assert(delivered.synchronized(delivered.toSet) ==
        Set(("insert", 1L, 0L), ("insert", 2L, 0L), ("insert", 3L, 0L)),
        "the initial snapshot arrives as insert change rows")
      // a copy-on-write DELETE mid-stream: the cdc actions serve the
      // retraction instead of killing the stream
      DeltaWrite.deleteWhere(spark, dir, col("id") === 2L)
      q.processAllAvailable()
      val afterDelete = delivered.synchronized(delivered.toSet)
      assert(afterDelete.exists { case (t, id, _) => t == "delete" && id == 2L },
        s"the DELETE must arrive as a delete change row, got $afterDelete")
      assert(afterDelete.count { case (t, _, _) => t == "insert" } == 3,
        "the rewrite must not re-emit surviving rows as inserts")
    } finally q.stop()

    // DML while the stream is DOWN; restart resumes mid-feed with no
    // duplicates (exactly-once across the checkpoint)
    DeltaWrite.updateWhere(spark, dir, col("id") === 3L, Seq("v" -> lit("c2")))
    DeltaWrite.append(spark, Seq((4L, "d")).toDF("id", "v"), dir)
    val q2 = startStream()
    try {
      q2.processAllAvailable()
      val all = delivered.synchronized(delivered.toList)
      assert(all.size == all.distinct.size, s"duplicate change rows: $all")
      val byType = all.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
      assert(byType("insert") == Seq(1L, 2L, 3L, 4L))
      assert(byType("delete") == Seq(2L))
      assert(byType("update_preimage") == Seq(3L))
      assert(byType("update_postimage") == Seq(3L))
    } finally q2.stop()

    // a NON-CDF table's DML still fails the change-feed stream loudly
    val dir2 = java.nio.file.Files.createTempDirectory("graft_dstream_cdf2").toString + "/t"
    val ck2 = java.nio.file.Files.createTempDirectory("graft_dstream_cdf2_ck").toString
    DeltaWrite.create(spark, Seq((1L, "a")).toDF("id", "v"), dir2)
    DeltaWrite.deleteWhere(spark, dir2, col("id") === 1L)
    val q3 = spark.readStream
      .format(classOf[graft.streaming.DeltaStreamProvider].getName)
      .option("readChangeFeed", "true")
      .load(dir2)
      .writeStream.option("checkpointLocation", ck2)
      .foreachBatch { (_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => () }
      .start()
    try {
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q3.processAllAvailable()
      }
      def mentionsCdf(t: Throwable): Boolean =
        t != null && (Option(t.getMessage).exists(
          _.contains("enableChangeDataFeed")) || mentionsCdf(t.getCause))
      assert(mentionsCdf(e))
    } finally q3.stop()
  }

  test("IcebergStreamProvider: micro-batches track commits, restart resumes, overwrite is loud") {
    import graft.sources.IcebergWrite
    val dir = java.nio.file.Files.createTempDirectory("graft_istream").toString + "/t"
    val ck = java.nio.file.Files.createTempDirectory("graft_istream_ck").toString
    IcebergWrite.create(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)

    val delivered = scala.collection.mutable.ListBuffer[Long]()
    def startStream() = spark.readStream
      .format(classOf[graft.streaming.IcebergStreamProvider].getName)
      .load(dir)
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val ids = b.collect().map(_.getLong(0))
        delivered.synchronized { delivered ++= ids }
        ()
      }.start()

    val q = startStream()
    try {
      q.processAllAvailable()
      assert(delivered.synchronized(delivered.toSet) == Set(1L, 2L),
        "existing content must arrive as the first batch")
      // live append lands in the next micro-batch
      IcebergWrite.append(spark, Seq((3L, "c")).toDF("id", "v"), dir)
      q.processAllAvailable()
      assert(delivered.synchronized(delivered.toSet) == Set(1L, 2L, 3L))
      // a row-preserving replace (compaction) must NOT re-emit rows
      IcebergWrite.compact(spark, dir, smallFileBytes = 1L << 20, targetFiles = 1)
      q.processAllAvailable()
      assert(delivered.synchronized(delivered.size) == 3,
        "a compaction commit must not duplicate rows in the stream")
    } finally q.stop()

    // append while the stream is DOWN; restart from the checkpoint —
    // exactly the missed rows arrive, no re-delivery of old ones
    IcebergWrite.append(spark, Seq((4L, "d"), (5L, "e")).toDF("id", "v"), dir)
    val q2 = startStream()
    try {
      q2.processAllAvailable()
      assert(delivered.synchronized(delivered.sorted.toSeq) == Seq(1L, 2L, 3L, 4L, 5L),
        s"checkpoint restart must resume at the committed version, got $delivered")
      // a copy-on-write overwrite (merge) breaks the append-only contract loudly
      IcebergWrite.merge(spark, dir,
        Seq((1L, "A!")).toDF("id", "v"), Seq("id"))
      IcebergWrite.append(spark, Seq((6L, "f")).toDF("id", "v"), dir)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      def mentionsRetract(t: Throwable): Boolean =
        t != null && (Option(t.getMessage).exists(_.contains("retract")) ||
          mentionsRetract(t.getCause))
      assert(mentionsRetract(e))
    } finally q2.stop()

    // a live equality-delete file is equally loud (fresh stream, fresh table)
    val dir2 = java.nio.file.Files.createTempDirectory("graft_istream2").toString + "/t"
    val ck2 = java.nio.file.Files.createTempDirectory("graft_istream2_ck").toString
    IcebergWrite.create(spark, Seq((1L, "a")).toDF("id", "v"), dir2)
    IcebergWrite.deleteEqual(spark, dir2, Seq(1L).toDF("id"))
    val q3 = spark.readStream
      .format(classOf[graft.streaming.IcebergStreamProvider].getName)
      .load(dir2)
      .writeStream.option("checkpointLocation", ck2)
      .foreachBatch { (_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => () }
      .start()
    try {
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q3.processAllAvailable()
      }
      def mentionsDeletes(t: Throwable): Boolean =
        t != null && (Option(t.getMessage).exists(_.contains("delete files")) ||
          mentionsDeletes(t.getCause))
      assert(mentionsDeletes(e))
    } finally q3.stop()
  }

  test("stream sources survive mid-stream schema evolution: column ADD keeps the sink consuming, restart picks up the column") {
    import graft.sources.{DeltaWrite, IcebergWrite}

    // delivered as (id, w-or-null) so the post-restart schema is provable
    def run(fmt: Class[_], dir: String, ck: String, create: () => Unit,
        appendNew: (Long, Double) => Unit, evolve: (Long, Double) => Unit): Unit = {
      create()
      val delivered = scala.collection.mutable.ListBuffer[(Long, Option[Double])]()
      def startStream() = spark.readStream.format(fmt.getName).load(dir)
        .writeStream.option("checkpointLocation", ck)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val rows = b.collect().map { r =>
            val wIdx = r.schema.fieldNames.indexOf("w")
            (r.getLong(r.schema.fieldNames.indexOf("id")),
              if (wIdx < 0 || r.isNullAt(wIdx)) scala.None else Some(r.getDouble(wIdx)))
          }
          delivered.synchronized { delivered ++= rows }
          ()
        }.start()

      val q = startStream()
      try {
        q.processAllAvailable()
        assert(delivered.synchronized(delivered.toSet) == Set((1L, scala.None)))
        // the EVOLUTION commit lands mid-stream: the running query keeps
        // its start-time projection and must keep consuming — the new
        // column is simply not selected yet
        evolve(2L, 2.5)
        q.processAllAvailable()
        assert(delivered.synchronized(delivered.toSet) ==
          Set((1L, scala.None), (2L, scala.None)),
          s"$fmt: the running stream must consume across the evolution commit")
        // further evolved-schema appends keep flowing
        appendNew(3L, 3.5)
        q.processAllAvailable()
        assert(delivered.synchronized(delivered.map(_._1).toSet) == Set(1L, 2L, 3L))
      } finally q.stop()

      // restart from the same checkpoint: the source re-infers the
      // schema, the ADDED column appears, committed offsets are not
      // re-read, and the new column carries values for new rows
      delivered.synchronized(delivered.clear())
      appendNew(4L, 4.5)
      val q2 = startStream()
      try {
        q2.processAllAvailable()
        assert(delivered.synchronized(delivered.toSet) == Set((4L, Some(4.5))),
          s"$fmt: restart must resume at the committed offset WITH the added column")
      } finally q2.stop()
    }

    // Delta
    val dDir = java.nio.file.Files.createTempDirectory("graft_dstream_evo").toString + "/t"
    val dCk = java.nio.file.Files.createTempDirectory("graft_dstream_evo_ck").toString
    run(classOf[graft.streaming.DeltaStreamProvider], dDir, dCk,
      () => DeltaWrite.create(spark, Seq((1L, "a")).toDF("id", "v"), dDir),
      (id, w) => DeltaWrite.append(spark,
        Seq((id, "x", w)).toDF("id", "v", "w"), dDir),
      (id, w) => DeltaWrite.appendEvolve(spark,
        Seq((id, "x", w)).toDF("id", "v", "w"), dDir))

    // Iceberg
    val iDir = java.nio.file.Files.createTempDirectory("graft_istream_evo").toString + "/t"
    val iCk = java.nio.file.Files.createTempDirectory("graft_istream_evo_ck").toString
    run(classOf[graft.streaming.IcebergStreamProvider], iDir, iCk,
      () => IcebergWrite.create(spark, Seq((1L, "a")).toDF("id", "v"), iDir),
      (id, w) => IcebergWrite.append(spark,
        Seq((id, "x", w)).toDF("id", "v", "w"), iDir),
      (id, w) => IcebergWrite.appendEvolve(spark,
        Seq((id, "x", w)).toDF("id", "v", "w"), iDir))
  }

  test("retentionStream: aggregated hits across batches equal the batch retention table") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Streams.Ev]
    val out = Streams.retentionStream(input.toDF(), watermark = "90 days", periodDays = 7)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("retention_stream").start()
    def ev(id: Long, day: Long, u: Long) =
      Streams.Ev(id, new java.sql.Timestamp(day * 86400000L), u, "click", 1.0)
    // users 1,2 start week 1; user 3 starts week 3; activity spread so
    // cohorts diverge; per-user IN-ORDER across batches, shuffled within
    val b1 = Seq(ev(2, 9, 1), ev(1, 8, 1), ev(3, 8, 2))   // in-batch shuffle for u1
    val b2 = Seq(ev(4, 16, 1), ev(5, 22, 3), ev(6, 17, 2))
    val b3 = Seq(ev(7, 30, 1), ev(8, 29, 3), ev(9, 30, 2), ev(10, 31, 1))
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      input.addData(b3: _*); q.processAllAvailable()
      val streamed = spark.table("retention_stream")
        .groupBy("cohort", "period_n").count()
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = graft.operators.Events.retention(
        (b1 ++ b2 ++ b3).toDF(), "user_id", "ts", periodDays = 7)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batch,
        s"streamed retention $streamed must equal batch $batch")
      // a re-visit of an already-counted period emits nothing
      val n0 = spark.table("retention_stream").count()
      input.addData(ev(11, 31, 1)); q.processAllAvailable()
      assert(spark.table("retention_stream").count() == n0,
        "an already-counted (user, period) must not re-emit")
    } finally q.stop()
  }

  test("retentionStream idleTtl evicts idle users (reappearance = new cohort)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Streams.Ev]
    val out = Streams.retentionStream(
      input.toDF(), watermark = "1 day", periodDays = 1, idleTtl = Some("2 days"))
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("retention_ttl").start()
    def ev(id: Long, day: Long, u: Long) =
      Streams.Ev(id, new java.sql.Timestamp(day * 86400000L), u, "click", 1.0)
    try {
      input.addData(ev(1, 10, 1)); q.processAllAvailable()
      // push the watermark far past user 1's ttl with another user
      input.addData(ev(2, 20, 2)); q.processAllAvailable()
      input.addData(ev(3, 21, 2)); q.processAllAvailable()
      // user 1 reappears AFTER eviction: state restarted, fresh cohort
      input.addData(ev(4, 25, 1)); q.processAllAvailable()
      val u1 = spark.table("retention_ttl").filter(col("user_id") === 1L)
        .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
      assert(u1 == Set((10L, 0L), (25L, 0L)),
        s"evicted user must re-cohort at reappearance, got $u1")
    } finally q.stop()
  }

  test("icebergSinkBranchBatch: staged exactly-once micro-batches, invisible until fastForward") {
    import graft.sources.{IcebergScan, IcebergWrite}
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_branch_sink").toString + "/t"
    IcebergWrite.create(spark, Seq((0L, "seed")).toDF("id", "v"), dir)
    // three staged micro-batches + one re-delivery
    assert(Streams.icebergSinkBranchBatch(Seq((1L, "a")).toDF("id", "v"), dir, "stage", "appB", 0L))
    assert(Streams.icebergSinkBranchBatch(Seq((2L, "b")).toDF("id", "v"), dir, "stage", "appB", 1L))
    assert(!Streams.icebergSinkBranchBatch(Seq((2L, "dup")).toDF("id", "v"), dir, "stage", "appB", 1L),
      "re-delivered batch must be skipped")
    assert(Streams.icebergSinkBranchBatch(Seq((3L, "c")).toDF("id", "v"), dir, "stage", "appB", 2L))
    // production readers see only the seed; the branch sees all staged rows
    assert(IcebergScan.read(spark, dir).collect().map(_.getLong(0)).toSet == Set(0L))
    assert(IcebergScan.readRef(spark, dir, "stage").collect().map(_.getLong(0)).toSet ==
      Set(0L, 1L, 2L, 3L))
    // publish: exactly-once rows on main
    IcebergWrite.fastForward(spark, dir, "stage")
    assert(IcebergScan.read(spark, dir).collect().map(_.getLong(0)).toSet ==
      Set(0L, 1L, 2L, 3L))
    assert(IcebergScan.read(spark, dir).count() == 4L, "no duplicates after publish")
    // SECOND stage→publish cycle on the SAME branch: publish re-bases the
    // ref at the published head, so continued staging + a later publish
    // must succeed (a stale graft-base here would refuse and strand the
    // staged batches — their txn markers already read committed)
    assert(Streams.icebergSinkBranchBatch(Seq((4L, "d")).toDF("id", "v"), dir, "stage", "appB", 3L))
    assert(!Streams.icebergSinkBranchBatch(Seq((4L, "dup")).toDF("id", "v"), dir, "stage", "appB", 3L))
    assert(Streams.icebergSinkBranchBatch(Seq((5L, "e")).toDF("id", "v"), dir, "stage", "appB", 4L))
    assert(IcebergScan.read(spark, dir).collect().map(_.getLong(0)).toSet ==
      Set(0L, 1L, 2L, 3L), "second-cycle staged rows invisible until publish")
    IcebergWrite.fastForward(spark, dir, "stage")
    assert(IcebergScan.read(spark, dir).collect().map(_.getLong(0)).toSet ==
      Set(0L, 1L, 2L, 3L, 4L, 5L))
    assert(IcebergScan.read(spark, dir).count() == 6L,
      "no duplicates across two publish cycles")
    // and a main append BETWEEN cycles still trips the divergence guard
    assert(Streams.icebergSinkBranchBatch(Seq((6L, "f")).toDF("id", "v"), dir, "stage", "appB", 5L))
    IcebergWrite.append(spark, Seq((9L, "z")).toDF("id", "v"), dir)
    val eDiv = intercept[IllegalArgumentException](IcebergWrite.fastForward(spark, dir, "stage"))
    assert(eDiv.getMessage.contains("drop"), s"diverged third publish must refuse: $eDiv")
  }

  test("IcebergStreamProvider streams a TRANSFORM-partitioned table; mid-stream spec evolution doesn't wedge it") {
    import graft.sources.{IcebergScan, IcebergWrite}
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_tr_stream").toString + "/t"
    val ck = java.nio.file.Files.createTempDirectory("graft_ice_tr_stream_ck").toString
    // hidden partitioning: the derived day/bucket columns live in the
    // hive dirs only; the SOURCE columns stay in the payload — the
    // stream must decode rows without demanding path segments for them
    IcebergWrite.create(spark,
      Seq((1L, ts("2024-03-05 10:00:00"), "a"),
          (2L, ts("2024-03-06 11:00:00"), "b")).toDF("id", "ts", "v"),
      dir, partitionBy = Seq("day(ts)", "bucket(4, id)"))
    val delivered = scala.collection.mutable.ListBuffer[(Long, java.sql.Timestamp, String)]()
    val q = spark.readStream
      .format(classOf[graft.streaming.IcebergStreamProvider].getName)
      .load(dir)
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val rows = b.collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getString(2)))
        delivered.synchronized { delivered ++= rows }
        ()
      }.start()
    try {
      q.processAllAvailable()
      assert(delivered.synchronized(delivered.map(_._1).toSet) == Set(1L, 2L))
      IcebergWrite.append(spark,
        Seq((3L, ts("2024-03-07 09:00:00"), "c")).toDF("id", "ts", "v"), dir)
      q.processAllAvailable()
      // SPEC EVOLUTION mid-stream: metadata-only commit — the increment
      // is empty and the reader must not wedge on it
      IcebergWrite.updatePartitionSpec(spark, dir, Seq("month(ts)"))
      q.processAllAvailable()
      // post-evolution appends land under the NEW layout and still stream
      IcebergWrite.append(spark,
        Seq((4L, ts("2024-05-20 10:30:00"), "d")).toDF("id", "ts", "v"), dir)
      q.processAllAvailable()
      val got = delivered.synchronized(delivered.toSeq).sortBy(_._1)
      assert(got.map(_._1) == Seq(1L, 2L, 3L, 4L),
        s"every row exactly once across the evolution: $got")
      assert(got.map(_._2.toString) == Seq(
        "2024-03-05 10:00:00.0", "2024-03-06 11:00:00.0",
        "2024-03-07 09:00:00.0", "2024-05-20 10:30:00.0"))
      assert(got.map(_._3) == Seq("a", "b", "c", "d"))
      // batch and stream agree post-evolution
      assert(IcebergScan.read(spark, dir).count() == 4L)
    } finally q.stop()
  }

  test("IcebergStreamProvider: v3 upgrade mid-stream is a no-op; a DV delete fails the stream loudly") {
    import org.apache.spark.sql.functions.col
    import graft.sources.IcebergWrite
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_v3_stream").toString + "/t"
    val ck = java.nio.file.Files.createTempDirectory("graft_ice_v3_stream_ck").toString
    IcebergWrite.create(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1), dir)
    val delivered = scala.collection.mutable.ListBuffer[Long]()
    val q = spark.readStream
      .format(classOf[graft.streaming.IcebergStreamProvider].getName)
      .load(dir)
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val rows = b.collect().map(_.getLong(0))
        delivered.synchronized { delivered ++= rows }
        ()
      }.start()
    try {
      q.processAllAvailable()
      assert(delivered.synchronized(delivered.toSet) == Set(1L, 2L))
      // the upgrade is a metadata-only commit on a delete-free table:
      // data file set unchanged, the increment is empty, reader keeps going
      IcebergWrite.upgradeFormatVersion(spark, dir)
      q.processAllAvailable()
      IcebergWrite.append(spark, Seq((3L, "c")).toDF("id", "v").coalesce(1), dir)
      q.processAllAvailable()
      assert(delivered.synchronized(delivered.toSet) == Set(1L, 2L, 3L))
      // a deletion vector retracts already-emitted rows — the
      // append-only stream must fail LOUDLY, never skip it silently
      IcebergWrite.deleteWhere(spark, dir, col("id") === 1L)
      val e = intercept[Exception] { q.processAllAvailable() }
      def chain(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else t.getMessage +: chain(t.getCause)
      assert(chain(e).exists(m => m != null && m.contains("row-level delete")),
        s"expected the live-delete refusal, got: ${chain(e).mkString(" | ")}")
    } finally q.stop()
  }

  test("DeltaStreamProvider starts on a table whose JSON log was cleaned up to a checkpoint") {
    import graft.sources.{DeltaScan, DeltaWrite}
    val dir = java.nio.file.Files.createTempDirectory("graft_dstream_trunc").toString + "/t"
    val ck = java.nio.file.Files.createTempDirectory("graft_dstream_trunc_ck").toString
    DeltaWrite.create(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    DeltaWrite.append(spark, Seq((3L, "c")).toDF("id", "v"), dir)
    DeltaWrite.checkpoint(spark, dir)
    // clean the whole JSON tail: the schema lives only in the checkpoint
    val cpV = DeltaScan.latestVersion(spark, dir)
    (0L to cpV).foreach { v =>
      assert(new java.io.File(s"$dir/_delta_log", f"$v%020d.json").delete())
    }
    val delivered = scala.collection.mutable.ListBuffer[(Long, String)]()
    val q = spark.readStream
      .format(classOf[graft.streaming.DeltaStreamProvider].getName)
      .option("startingVersion", (cpV + 1).toString)
      .load(dir)
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val got = b.collect().map(r => (r.getLong(0), r.getString(1)))
        delivered.synchronized { delivered ++= got }
        ()
      }.start()
    try {
      q.processAllAvailable()
      assert(delivered.synchronized(delivered.isEmpty))
      DeltaWrite.append(spark, Seq((4L, "d")).toDF("id", "v"), dir)
      DeltaWrite.append(spark, Seq((5L, "e"), (6L, "f")).toDF("id", "v"), dir)
      q.processAllAvailable()
      assert(delivered.synchronized(delivered.sorted.toSeq) ==
        Seq((4L, "d"), (5L, "e"), (6L, "f")))
    } finally q.stop()
  }

  test("DeltaStreamProvider streams a GENERATED-COLUMN table; derived partition values decode (DateType included)") {
    import graft.sources.DeltaWrite
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val dir = java.nio.file.Files.createTempDirectory("graft_delta_gen_stream").toString + "/t"
    val ck = java.nio.file.Files.createTempDirectory("graft_delta_gen_stream_ck").toString
    // the stream's parquet-mr reader needs INT64-micros timestamps
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try {
      DeltaWrite.create(spark,
        Seq((1L, ts("2024-03-05 10:00:00"), "alpha"),
            (2L, ts("2024-04-01 12:00:00"), "bravo")).toDF("id", "ts", "cat"),
        dir, partitionBy = Seq("day(ts)", "truncate(2, cat)"))
      val delivered =
        scala.collection.mutable.ListBuffer[(Long, java.sql.Date, String)]()
      val q = spark.readStream
        .format(classOf[graft.streaming.DeltaStreamProvider].getName)
        .load(dir)
        .writeStream.option("checkpointLocation", ck)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          // generated columns are REAL schema columns — the stream must
          // surface them, decoded from the log's partitionValues
          val rows = b.select("id", "ts_day", "cat_trunc").collect()
            .map(r => (r.getLong(0), r.getDate(1), r.getString(2)))
          delivered.synchronized { delivered ++= rows }
          ()
        }.start()
      try {
        q.processAllAvailable()
        DeltaWrite.append(spark,
          Seq((3L, ts("2025-01-15 08:30:00"), "gamma")).toDF("id", "ts", "cat"), dir)
        q.processAllAvailable()
        val got = delivered.synchronized(delivered.toSeq).sortBy(_._1)
        assert(got.map(_._1) == Seq(1L, 2L, 3L))
        assert(got.map(_._2.toString) == Seq("2024-03-05", "2024-04-01", "2025-01-15"),
          s"DateType partition values must decode from the log: $got")
        assert(got.map(_._3) == Seq("al", "br", "ga"))
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
  }
}

package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.operators.Anagrams
import graft.sources.GutenbergSource
import graft.streaming.EventsStream
import graft.streaming.EventsStream.Ev

class SourcesAndStreamingSpec extends SparkTestBase {
  import spark.implicits._

  /** Replay rows from the real events parquet as second-truncated
    * TIMESTAMPs, robust to both ts schemas the driver has shipped
    * (TIMESTAMP/TIMESTAMP_NTZ µs, or legacy epoch-nano BIGINT). */
  private def replayEvents(sf: String): Seq[(java.sql.Timestamp, String, Double)] = {
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val tsExpr = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        "CAST(ts DIV 1000000000 AS TIMESTAMP)"
      case _ => "DATE_TRUNC('second', CAST(ts AS TIMESTAMP))"
    }
    raw.selectExpr(s"$tsExpr AS ts", "event_type", "value")
      .as[(java.sql.Timestamp, String, Double)].collect().toSeq
  }

  test("gutenberg source: raw files with headers -> anagram lines") {
    val dir = Files.createTempDirectory("graft-books")
    Files.writeString(Paths.get(dir.toString, "book1.txt"),
      "#HEADER# *** START OF THIS PROJECT GUTENBERG EBOOK ONE *** care race part\n" +
        "*** END OF THE PROJECT GUTENBERG EBOOK ONE *** #FOOTER#")
    Files.writeString(Paths.get(dir.toString, "book2.txt"),
      "#HEADER# *** START OF THE PROJECT GUTENBERG EBOOK TWO *** trap race the\n" +
        "End of Project Gutenberg's Two")
    val lines = GutenbergSource.anagramsFromBooks(spark, dir.toString)
      .collect().map(_.getString(0)).toSet
    assert(lines == Set("acer: care race", "aprt: part trap"))
    // header words (#HEADER#) and stopwords (the) must not leak through
  }

  test("writeAnagramParts produces per-reducer part files") {
    val books = Files.createTempDirectory("graft-books3")
    Files.writeString(Paths.get(books.toString, "b.txt"), "care race part trap dog god")
    val out = Files.createTempDirectory("graft-out").toString + "/parts"
    GutenbergSource.writeAnagramParts(spark, books.toString, out, 3)
    val parts = new java.io.File(out).listFiles().filter(_.getName.startsWith("part-"))
    assert(parts.length == 3)
    val lines = parts.flatMap(f => scala.io.Source.fromFile(f).getLines()).toSet
    assert(lines == Set("acer: care race", "aprt: part trap", "dgo: dog god"))
  }

  test("gutenberg source decodes ISO-8859-1 bytes like the Go rune cast") {
    val dir = Files.createTempDirectory("graft-books2")
    // 0xE7 is ç in Latin-1; invalid as standalone UTF-8
    Files.write(Paths.get(dir.toString, "b.txt"),
      Array[Byte]('f', 'a', 0xE7.toByte, 'a', 'd', 'e'))
    val text = GutenbergSource.readBooks(spark, dir.toString)
      .collect().head.getString(1)
    assert(text == "façade")
  }

  test("jsonl source round-trips the documents table losslessly") {
    val src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = Files.createTempDirectory("graft-jsonl").toString + "/docs"
    graft.sources.JsonlSource.writeJsonl(src, out, parts = 4)
    val back = graft.sources.JsonlSource.readJsonl(spark, out)
    assert(back.schema == graft.sources.JsonlSource.DocumentSchema)
    assert(collectSet(back.select("doc_id", "text", "lang", "source", "n_chars"))
      == collectSet(src.select("doc_id", "text", "lang", "source", "n_chars")))
    // operators are source-agnostic: the anagram reduce runs on the
    // jsonl-read frame exactly as on the parquet one
    val viaJsonl = collectSet(Anagrams.anagramGroupsOf(back))
    val viaParquet = collectSet(Anagrams.anagramGroupsOf(src))
    assert(viaJsonl == viaParquet && viaJsonl.nonEmpty)
  }

  test("exportJsonl: sharded export round-trips, manifest matches recount, " +
      "re-export is byte-identical") {
    import org.apache.spark.sql.functions._
    // escape repertoire: quote, backslash, tab, CR, LF, unicode — plus a
    //  control char the pinned serializer DROPS (documented contract)
    val d = writeDocsFixture(Seq(
      1L -> "plain text",
      2L -> "quote \" backslash \\ done",
      3L -> "tab\tcr\rlf\nmix",
      4L -> "unicode ü ß 中",
      5L -> ("ctrl" + 1.toChar + "char"),
      6L -> ""))
    val src = spark.read.parquet(s"$d/documents.parquet")
    val out = Files.createTempDirectory("graft-export").toString + "/corpus"
    val manifest = graft.sources.JsonlSource.exportJsonl(src, out, shards = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // round trip: everything except the stripped control char survives
    val back = graft.sources.JsonlSource.readJsonl(spark, s"$out/shard=*")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(back(1L) == "plain text")
    assert(back(2L) == "quote \" backslash \\ done")
    assert(back(3L) == "tab\tcr\rlf\nmix")
    assert(back(4L) == "unicode ü ß 中")
    assert(back(5L) == "ctrlchar") //  stripped by the serializer
    assert(back(6L) == "")
    // manifest counts reconcile with the files
    assert(manifest.values.map(_._1).sum == 6L)
    val onDisk = spark.read.text(out)
      .groupBy(col("shard").cast("long").as("s"))
      .agg(count(lit(1)).as("n"),
        sum(octet_length(col("value")) + 1).cast("long").as("b"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    manifest.foreach { case (s, (docsN, bytes, _)) =>
      assert(onDisk(s) == ((docsN, bytes))) }
    // determinism: a second export of the same frame produces the SAME
    // manifest (shards, counts, bytes, content hashes)
    val out2 = Files.createTempDirectory("graft-export2").toString + "/corpus"
    val manifest2 = graft.sources.JsonlSource.exportJsonl(src, out2, shards = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(manifest2 == manifest)
    // the _manifest artifact exists and carries the same rows
    val persisted = spark.read.json(s"$out/_manifest")
      .collect().map(r => r.getAs[Long]("shard") ->
        ((r.getAs[Long]("docs"), r.getAs[Long]("bytes"),
          r.getAs[Long]("content_hash")))).toMap
    assert(persisted == manifest)
  }

  test("c4Gate streaming twin replays equal to the batch c4_line_filters " +
      "keep set and filtered text") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val five = (1 to 5).map(i => s"Solid sentence number $i reads fine.")
    val rows = Seq(
      1L -> five.mkString("\n"), // clean: kept, text unchanged
      2L -> (five :+ "dropped cookie banner line.").mkString("\n"), // filtered
      3L -> "no terminal punctuation anywhere at all", // few_sentences: dropped
      4L -> (five :+ "curly { brace.").mkString("\n"), // brace doc gate: dropped
      5L -> (five :+ "we love lorem ipsum too.").mkString("\n")) // dropped
    val d = writeDocsFixture(rows)
    // batch reference: the oracled operator's keep set + filtered text
    val batch = graft.operators.Curation.c4LineFilters(spark, d).collect()
      .filter(_.getString(4) == "")
      .map(r => r.getLong(0) -> r.getString(5)).toMap
    val input = MemoryStream[(Long, String)](spark)
    val q = graft.streaming.DocsStream.c4Gate(
      input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("c4gate")
      .outputMode("append").start()
    input.addData(rows: _*)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("c4gate").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(streamed == batch)
    assert(streamed.keySet == Set(1L, 2L)) // the gate actually discriminates
    assert(streamed(2L) == five.mkString("\n")) // banned line filtered out
  }

  test("gopherRepGate streaming twin keeps exactly the batch gate's " +
      "keep set") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val rows = Seq(
      1L -> (1 to 40).map(i => s"w$i").mkString(" "), // clean
      2L -> "spam spam spam eggs", // top-2gram violation
      3L -> "solo", // too short for any grain: trivially kept
      4L -> ((1 to 15).map(i => s"u$i") ++ (1 to 15).map(i => s"u$i")
        ++ (1 to 40).map(i => s"v$i")).mkString(" ")) // dup-grain violation
    val d = writeDocsFixture(rows)
    val batchKeep = graft.operators.Curation.gopherRepetitionGate(spark, d)
      .collect().filter(_.getBoolean(2)).map(_.getLong(0)).toSet
    val input = MemoryStream[(Long, String)](spark)
    val q = graft.streaming.DocsStream.gopherRepGate(
      input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("gophergate")
      .outputMode("append").start()
    input.addData(rows: _*)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("gophergate").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(streamed == batchKeep)
    assert(streamed == Set(1L, 3L)) // the gate really discriminates
  }

  test("lineTrimStage replays equal to the batch trim_repeated_lines rebuild") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val rows = Seq(
      (1L, "a\na\na\na"), (2L, "\n\n\n"), (3L, "solo"),
      (4L, "x\ny\nx\ny\nz"), (5L, "keep\nme\nkeep\nnow"))
    // batch reference: the oracled operator over the same docs
    val d = writeDocsFixture(rows)
    val batch = graft.operators.Curation.trimRepeatedLines(spark, d).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    // stream: the stateless row-local stage
    val input = MemoryStream[(Long, String)](spark)
    val q = graft.streaming.DocsStream.lineTrimStage(
      input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("linetrim")
      .outputMode("append").start()
    input.addData(rows: _*)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("linetrim").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(streamed == batch)
  }

  test("jsonl_ingest: the committed fixture reads gz+plain parts, unicode, " +
      "escapes, and the corrupt line as exactly one all-null row") {
    val got = graft.sources.JsonlSource.jsonlIngest(spark, "")
      .collect().map(_.toSeq)
    assert(got.length == 6)
    assert(got.count(_.forall(_ == null)) == 1) // PERMISSIVE corrupt line
    val byId = got.filter(_.head != null)
      .map(r => r.head.asInstanceOf[Long] -> r).toMap
    assert(byId(4L)(4) == "unicode ü ß")
    assert(byId(5L)(4) == "tab\tand\nnewline")
    assert(byId(3L)(4) == "" && byId(3L)(3) == 0L)
  }

  test("streaming windowed counts with watermark") {
    val input = MemoryStream[(java.sql.Timestamp, String, Double)](spark)
    val df = input.toDF().toDF("ts", "event_type", "value")
    val q = EventsStream.windowedCounts(df)
      .writeStream.format("memory").queryName("win_counts")
      .outputMode("complete").start()
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    input.addData((t(10), "click", 1.0), (t(20), "click", 2.0), (t(3700), "view", 5.0))
    q.processAllAvailable()
    val rows = spark.table("win_counts").collect()
      .map(r => (r.getTimestamp(0).getTime / 1000, r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    q.stop()
    assert(rows == Set((0L, "click", 2L, 3.0), (3600L, "view", 1L, 5.0)))
  }

  test("replay: streaming windowed counts equal batch events_window_agg") {
    // VERDICT r4 #5: replay the REAL events parquet through the streaming
    // twin and compare to the batch aggregation row-for-row — a stronger
    // batch≡stream guarantee than the synthetic-fixture window spec.
    val sf = "/root/testdata/sf0.001"
    val batch = graft.operators.Relational.eventsWindowAgg(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    // second-truncated TIMESTAMP (either ts schema): floors inside the
    // hour, so 1h windows and counts are unaffected
    val replayRows = replayEvents(sf)
    val input = MemoryStream[(java.sql.Timestamp, String, Double)](spark)
    val q = EventsStream.windowedCounts(
        input.toDF().toDF("ts", "event_type", "value"))
      .writeStream.format("memory").queryName("replay_win")
      .outputMode("complete").start()
    input.addData(replayRows)
    q.processAllAvailable()
    val stream = spark.table("replay_win").collect()
      .map(r => (r.getTimestamp(0).getTime / 1000, r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3))))
      .toMap
    q.stop()
    assert(stream.keySet == batch.keySet)
    stream.foreach { case (k, (n, sv)) =>
      val (bn, bsv) = batch(k)
      assert(n == bn, s"count mismatch at $k: stream $n vs batch $bn")
      // the stream sums raw doubles (order-dependent), the batch sums
      // exact decimals — equality up to accumulated ulps
      assert(math.abs(sv - bsv) <= 1e-6 * math.max(1.0, math.abs(bsv)),
        s"sum mismatch at $k: stream $sv vs batch $bsv")
    }
  }

  test("replay: streaming sliding counts equal batch events_sliding_agg") {
    val sf = "/root/testdata/sf0.001"
    val batch = graft.operators.Relational.eventsSlidingAgg(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    val replayRows = replayEvents(sf)
    val input = MemoryStream[(java.sql.Timestamp, String, Double)](spark)
    val q = EventsStream.slidingCounts(
        input.toDF().toDF("ts", "event_type", "value"))
      .writeStream.format("memory").queryName("replay_slide")
      .outputMode("complete").start()
    input.addData(replayRows)
    q.processAllAvailable()
    val stream = spark.table("replay_slide").collect()
      .map(r => (r.getTimestamp(0).getTime / 1000, r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3))))
      .toMap
    q.stop()
    assert(stream.keySet == batch.keySet)
    stream.foreach { case (k, (n, sv)) =>
      val (bn, bsv) = batch(k)
      assert(n == bn, s"count mismatch at $k: stream $n vs batch $bn")
      assert(math.abs(sv - bsv) <= 1e-6 * math.max(1.0, math.abs(bsv)),
        s"sum mismatch at $k: stream $sv vs batch $bsv")
    }
  }

  test("replay: streaming moving daily sum equals the batch contribution explode") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val replayRows = replayEvents(sf)
    // batch twin: the IDENTICAL contribution-explode over the same rows
    val batch = replayRows.toDF("ts", "event_type", "value")
      .withColumn("t_ts", explode(array((0 to 6).map(d =>
        col("ts") + expr(s"INTERVAL $d DAYS")): _*)))
      .groupBy(window(col("t_ts"), "1 day"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
      .select(col("window.start").as("day_start"), col("n"), col("sv"))
      .collect()
      .map(r => r.getTimestamp(0).getTime / 1000 ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    val input = MemoryStream[(java.sql.Timestamp, String, Double)](spark)
    val q = EventsStream.movingDailySum(
        input.toDF().toDF("ts", "event_type", "value"))
      .writeStream.format("memory").queryName("replay_ma")
      .outputMode("complete").start()
    input.addData(replayRows)
    q.processAllAvailable()
    val stream = spark.table("replay_ma").collect()
      .map(r => r.getTimestamp(0).getTime / 1000 ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    q.stop()
    assert(stream.keySet == batch.keySet && stream.nonEmpty)
    stream.foreach { case (k, (n, sv)) =>
      val (bn, bsv) = batch(k)
      assert(n == bn, s"contrib-count mismatch at $k: $n vs $bn")
      assert(math.abs(sv - bsv) <= 1e-6 * math.max(1.0, math.abs(bsv)),
        s"sum mismatch at $k: $sv vs $bsv")
    }
  }

  test("moving daily sum in UPDATE mode: late batches keep all 7 contributions") {
    // regression for the watermark-shift bug: t_ts runs up to +6 days ahead
    // of event time, so a bare 10-minute delay let batch 1's +6d row drag
    // the watermark ~6 days forward and silently drop 6 of 7 contributions
    // from every later on-time event. Two sequential micro-batches in
    // update mode pin the fix (delay absorbs the shift).
    import org.apache.spark.sql.functions._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val input = MemoryStream[(java.sql.Timestamp, String, Double)](spark)
    val q = EventsStream.movingDailySum(
        input.toDF().toDF("ts", "event_type", "value"))
      .writeStream.format("memory").queryName("ma_update")
      .outputMode("update").start()
    input.addData(Seq((ts(86400L + 3600L), "a", 1.0)))      // day 1
    q.processAllAvailable()
    input.addData(Seq((ts(86400L + 7200L), "a", 10.0)))     // day 1, later
    q.processAllAvailable()
    val rows = spark.table("ma_update").collect()
      .map(r => (r.getTimestamp(0).getTime / 86400000L, r.getLong(1),
        r.getDouble(2)))
    q.stop()
    // update mode emits a row per changed window; take the LAST emission
    // per day — every one of days 1..7 must show both events' contributions
    val latest = rows.zipWithIndex.groupBy(_._1._1)
      .map { case (d, xs) => d -> xs.maxBy(_._2)._1 }
    (1L to 7L).foreach { d =>
      val (_, n, sv) = latest(d)
      assert(n == 2L, s"day $d lost a contribution: n=$n")
      assert(sv == 11.0, s"day $d sum $sv != 11.0")
    }
  }

  test("stream-static join enriches events with a broadcast dimension") {
    import spark.implicits._
    val input = MemoryStream[(java.sql.Timestamp, Long, String)](spark)
    val df = input.toDF().toDF("ts", "user_id", "event_type")
    val userDim = Seq((1L, "gold"), (2L, "free")).toDF("user_id", "tier")
    val q = EventsStream.enrichedWindowedCounts(df, userDim)
      .writeStream.format("memory").queryName("enriched")
      .outputMode("complete").start()
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    input.addData((t(10), 1L, "click"), (t(20), 1L, "click"), (t(30), 2L, "view"),
      (t(40), 3L, "click")) // user 3 has no dim row → dropped by inner join
    q.processAllAvailable()
    val rows = spark.table("enriched").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSet
    q.stop()
    assert(rows == Set(("gold", "click", 2L), ("free", "view", 1L)))
  }

  test("stream-stream interval join matches purchases to recent views") {
    import spark.implicits._
    val vIn = MemoryStream[(Long, java.sql.Timestamp, Long)](spark)
    val pIn = MemoryStream[(Long, java.sql.Timestamp, Long)](spark)
    val views = vIn.toDF().toDF("user_id", "ts", "event_id")
    val purchases = pIn.toDF().toDF("user_id", "ts", "event_id")
    val q = EventsStream.viewPurchaseJoin(views, purchases)
      .writeStream.format("memory").queryName("vp_join")
      .outputMode("append").start()
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    vIn.addData((1L, t(100), 10L), (1L, t(150), 11L), (2L, t(100), 12L),
      (1L, t(10), 13L)) // view too old for the 60s window
    pIn.addData((1L, t(160), 20L), (2L, t(300), 21L)) // user 2 purchase far after view
    q.processAllAvailable()
    // advance both watermarks so joined rows emit in append mode
    // (distinct users so the sentinels can't join each other)
    vIn.addData((8L, t(1000), 98L))
    pIn.addData((9L, t(1000), 99L))
    q.processAllAvailable()
    val pairs = spark.table("vp_join").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    q.stop()
    // purchase 20 (user 1 @160) matches views @100 and @150, not @10;
    // purchase 21 (user 2 @300) has no view within 60s
    assert(pairs == Set((20L, 10L), (20L, 11L)))
  }

  test("streaming funnel state tracks first view/purchase and conversion") {
    import spark.implicits._
    val input = MemoryStream[EventsStream.TypedEv](spark)
    val q = EventsStream.funnelStates(input.toDS())
      .writeStream.format("memory").queryName("funnel_states")
      .outputMode("update").start()
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    // batch 1: user 1 views; user 2 purchases (no view yet)
    input.addData(
      EventsStream.TypedEv(1L, "view", t(100)),
      EventsStream.TypedEv(2L, "purchase", t(100)))
    q.processAllAvailable()
    // batch 2: user 1 purchases (→ converted); user 2 views AFTER its
    // purchase (→ not converted, same strict rule as the batch query)
    input.addData(
      EventsStream.TypedEv(1L, "purchase", t(200)),
      EventsStream.TypedEv(2L, "view", t(150)))
    q.processAllAvailable()
    // every per-batch update, order-independent
    val updates = spark.table("funnel_states").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSet
    q.stop()
    assert(updates == Set(
      (1L, 100L, -1L, false), (1L, 100L, 200L, true),   // view → converted
      (2L, -1L, 100L, false), (2L, 150L, 100L, false))) // purchase-first: never
  }

  test("streaming sessionization closes sessions via event-time timeout") {
    val input = MemoryStream[Ev](spark)
    val q = EventsStream.sessionize(input.toDS())
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    // session 1: two events close together
    input.addData(Ev(1L, t(100)), Ev(1L, t(200)))
    q.processAllAvailable()
    // far-future event advances the watermark past session 1's gap → closes it
    input.addData(Ev(1L, t(10000)))
    q.processAllAvailable()
    input.addData(Ev(2L, t(20000)))
    q.processAllAvailable()
    val rows = spark.table("sessions").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    q.stop()
    assert(rows.contains((1L, 100L, 200L, 2L)))
  }

  test("streaming dedup drops duplicate event_ids within the watermark") {
    val input = MemoryStream[(Long, java.sql.Timestamp)](spark)
    val df = input.toDF().toDF("event_id", "ts")
    val q = EventsStream.dedupEvents(df)
      .writeStream.format("memory").queryName("dedup_ev")
      .outputMode("append").start()
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    input.addData((1L, t(10)), (1L, t(11)), (2L, t(12)), (2L, t(12)), (3L, t(13)))
    q.processAllAvailable()
    val ids = spark.table("dedup_ev").collect().map(_.getLong(0)).sorted
    q.stop()
    assert(ids.toSeq == Seq(1L, 2L, 3L))
  }

  test("streaming stateful-LSH near-dup pairs equal batch dedup_minhash") {
    import graft.streaming.DocsStream
    val base = "the quick brown fox jumps over the lazy dog while the cat " +
      "watches from the warm windowsill nearby"
    val docs = Seq(
      1L -> base,
      2L -> base,                            // exact duplicate of 1
      3L -> base.replace("lazy", "sleepy"),  // near-duplicate of 1
      4L -> ("completely different content about spark catalyst optimizer " +
        "rules and tungsten codegen stages"))
    // batch truth on the identical corpus
    val dir = writeDocsFixture(docs)
    val batch = graft.operators.Dedup.dedupMinhash(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batch.nonEmpty)
    // stream the same docs over TWO micro-batches (state must carry the
    // first batch's bucket entries into the second)
    val input = MemoryStream[(Long, String)](spark)
    val q = DocsStream.nearDupPairs(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("near_dup")
      .outputMode("append").start()
    input.addData(docs.take(2).map(d => (d._1, d._2)): _*)
    q.processAllAvailable()
    input.addData(docs.drop(2).map(d => (d._1, d._2)): _*)
    q.processAllAvailable()
    // a pair sharing k band buckets emits k times — dedupe downstream
    val streamed = spark.table("near_dup").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    q.stop()
    assert(streamed == batch,
      s"stream $streamed != batch $batch")
  }

  test("stateful-LSH near-dup runs on the RocksDB state store") {
    // SURVEY's scale claim for the streaming index: state = the standing
    // LSH bucket table, held in RocksDB rather than executor heap. Same
    // corpus and equality as the in-memory-provider test above.
    import graft.streaming.DocsStream
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val base = "the quick brown fox jumps over the lazy dog while the " +
        "cat watches from the warm windowsill nearby"
      val docs = Seq(1L -> base, 2L -> base,
        3L -> base.replace("lazy", "sleepy"))
      val dir = writeDocsFixture(docs)
      val batch = graft.operators.Dedup.dedupMinhash(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val input = MemoryStream[(Long, String)](spark)
      val q = DocsStream.nearDupPairs(input.toDF().toDF("doc_id", "text"))
        .writeStream.format("memory").queryName("near_dup_rocks")
        .outputMode("append").start()
      input.addData(docs.map(d => (d._1, d._2)): _*)
      q.processAllAvailable()
      val streamed = spark.table("near_dup_rocks").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      q.stop()
      assert(streamed == batch, s"rocksdb stream $streamed != batch $batch")
    } finally prev match {
      case Some(v) => spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming ingest pipeline gates quality and dedups content") {
    val input = MemoryStream[(Long, String, java.sql.Timestamp)](spark)
    val df = input.toDF().toDF("doc_id", "text", "ingest_ts")
    val q = graft.streaming.DocsStream.ingestPipeline(df)
      .writeStream.format("memory").queryName("docs_ingest")
      .outputMode("append").start()
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val good = "winter rivers carry bright morning stones beyond quiet villages"
    input.addData(
      (1L, good, t(10)),
      (2L, "too short", t(11)),                        // < MinTokens → gated
      (3L, "the and of to a in is it you that", t(12)), // all stopwords → gated
      (4L, good, t(13)),                               // exact dup of 1 → dropped
      (5L, good + " extra", t(14)))                    // near-dup but different hash → kept
    q.processAllAvailable()
    val ids = spark.table("docs_ingest").collect().map(_.getLong(0)).sorted
    q.stop()
    assert(ids.toSeq == Seq(1L, 5L))
  }

  test("streaming ingest pipeline with probe set also gates contamination") {
    val input = MemoryStream[(Long, String, java.sql.Timestamp)](spark)
    val df = input.toDF().toDF("doc_id", "text", "ingest_ts")
    val probes = Seq("bright morning stones") // a 3-gram from the benchmark
    val q = graft.streaming.DocsStream.ingestPipeline(df, probes)
      .writeStream.format("memory").queryName("docs_ingest_decon")
      .outputMode("append").start()
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    input.addData(
      (1L, "winter rivers carry bright morning stones beyond quiet villages", t(10)), // contaminated
      (2L, "winter rivers carry calm morning stones beyond quiet villages", t(11)),   // clean → kept
      (3L, "ok", t(12)))                                                              // short → gated
    q.processAllAvailable()
    val ids = spark.table("docs_ingest_decon").collect().map(_.getLong(0)).sorted
    q.stop()
    assert(ids.toSeq == Seq(2L))
  }

  test("decontamination gate keeps null-text docs exactly as batch decontaminate") {
    import graft.operators.Curation
    // docs 0-2 are the probe set (doc_id < ContamProbeDocs)
    val probeRows = Seq(0L -> "winter rivers carry bright morning stones",
      1L -> "a quiet village sleeps", 2L -> "under northern skies tonight")
    val streamed: Seq[(Long, String)] = Seq(
      10L -> "travellers saw bright morning stones near the ford", // contaminated
      11L -> "a clean line about harbour cranes",
      12L -> null,                                                 // null text
      13L -> "two")                                                // below k tokens
    val fix = writeDocsFixture(probeRows ++ streamed)
    val flagged = Curation.decontaminate(spark, fix)
      .collect().map(_.getLong(0)).toSet
    val batchKept = streamed.map(_._1).toSet -- flagged
    val probeGrams = Curation.gramsOf(probeRows.toDF("doc_id", "text"),
      Curation.ContamK).select("gram").distinct().as[String].collect().toSeq
    val input = MemoryStream[(Long, String)](spark)
    val q = graft.streaming.DocsStream
      .decontaminationGate(input.toDF().toDF("doc_id", "text"), probeGrams)
      .writeStream.format("memory").queryName("decon_gate_null")
      .outputMode("append").start()
    input.addData(streamed: _*)
    q.processAllAvailable()
    val streamKept = spark.table("decon_gate_null").collect()
      .map(_.getLong(0)).toSet
    q.stop()
    assert(batchKept == Set(11L, 12L, 13L))
    assert(streamKept == batchKept)
  }

  test("streaming mix gate keeps exactly the batch sampler's documents") {
    import spark.implicits._
    // 12 en vs 3 de docs; rates learned from the corpus as a static table
    val rows = (0 until 12).map(i => (i.toLong, s"english text $i", "en")) ++
      (100 until 103).map(i => (i.toLong, s"deutscher text $i", "de"))
    val fixDir = java.nio.file.Files.createTempDirectory("graft-mix").toString
    rows.toDF("doc_id", "text", "lang")
      .selectExpr("doc_id", "text", "lang", "'src0' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$fixDir/documents.parquet")
    val batchKept = graft.operators.Curation.sampleStratified(spark, fixDir)
      .collect().map(_.getLong(0)).toSet
    val rates = graft.streaming.DocsStream.mixRates(
      spark.read.parquet(s"$fixDir/documents.parquet"))
    val input = MemoryStream[(Long, String, String)](spark)
    val df = input.toDF().toDF("doc_id", "text", "lang")
    val q = graft.streaming.DocsStream.mixGate(df, rates)
      .writeStream.format("memory").queryName("mix_gate")
      .outputMode("append").start()
    input.addData(rows: _*)
    q.processAllAvailable()
    val streamKept = spark.table("mix_gate").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    q.stop()
    // one keep decision, two execution modes
    assert(streamKept == batchKept)
    assert(streamKept.nonEmpty && streamKept.size < rows.size)
    assert((100L until 103L).forall(streamKept)) // minority stratum all kept
  }

  test("streaming temperature gate keeps exactly the batch sampler's keeps") {
    import spark.implicits._
    // skewed mix: 40 en vs 5 de; α=0.5 downsamples en, keeps all de
    val rows = (0 until 40).map(i => (i.toLong, s"english text $i", "en")) ++
      (100 until 105).map(i => (i.toLong, s"deutscher text $i", "de"))
    val fixDir = java.nio.file.Files.createTempDirectory("graft-temp").toString
    rows.toDF("doc_id", "text", "lang")
      .selectExpr("doc_id", "text", "lang", "'src0' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$fixDir/documents.parquet")
    // the batch report's n_kept per lang is the ground truth the stream
    // must reproduce document-by-document
    val report = graft.operators.Selection.mixTemperature(spark, fixDir)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n_kept")).toMap
    val rates = graft.streaming.DocsStream.temperatureRates(
      spark.read.parquet(s"$fixDir/documents.parquet"))
    val input = MemoryStream[(Long, String, String)](spark)
    val df = input.toDF().toDF("doc_id", "text", "lang")
    val q = graft.streaming.DocsStream.temperatureGate(df, rates)
      .writeStream.format("memory").queryName("temp_gate")
      .outputMode("append").start()
    input.addData(rows: _*)
    q.processAllAvailable()
    val streamKept = spark.table("temp_gate").collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id")))
    q.stop()
    val byLang = streamKept.groupBy(_._1).map { case (l, xs) => l -> xs.size.toLong }
    assert(byLang.getOrElse("en", 0L) == report("en"))
    assert(byLang.getOrElse("de", 0L) == report("de"))
    assert(report("de") == 5L) // rarest language keeps everything
    assert(report("en") < 40L && report("en") > 0L) // dominant downsampled
  }

  test("streaming gopher gate keeps exactly the batch filter's keep set") {
    import spark.implicits._
    val good = "the and " + Seq.fill(58)("word").mkString(" ")
    val rows = Seq(
      (1L, good), (2L, "the and word"), // 2: below the token floor
      (3L, Seq.fill(60)("12345").mkString(" ")), // 3: no alphabetic tokens
      (4L, good + " extra trailing tokens of text"))
    val fixDir = writeDocsFixture(rows)
    val batchKept = graft.operators.Curation.gopherFilters(spark, fixDir)
      .where($"keep" === 1L).collect().map(_.getLong(0)).toSet
    val input = MemoryStream[(Long, String)](spark)
    val q = graft.streaming.DocsStream.gopherGate(
        input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("gopher_gate")
      .outputMode("append").start()
    input.addData(rows: _*)
    q.processAllAvailable()
    val streamKept = spark.table("gopher_gate").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    q.stop()
    assert(streamKept == batchKept)
    assert(streamKept == Set(1L, 4L))
  }

  test("streaming chunk stage emits exactly the batch chunker's windows") {
    import spark.implicits._
    val rows = Seq(
      1L -> (1 to 40).map(i => s"t$i").mkString(" "), // 2 chunks
      2L -> (1 to 10).map(i => s"s$i").mkString(" ")) // 1 partial chunk
    val fixDir = writeDocsFixture(rows)
    val batch = graft.operators.Curation.chunkDocuments(spark, fixDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    val input = MemoryStream[(Long, String)](spark)
    val q = graft.streaming.DocsStream.chunkStage(
        input.toDF().toDF("doc_id", "text"))
      .select("doc_id", "chunk_idx", "n_tokens", "chunk_md5")
      .writeStream.format("memory").queryName("chunk_stage")
      .outputMode("append").start()
    input.addData(rows: _*)
    q.processAllAvailable()
    val streamed = spark.table("chunk_stage").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    q.stop()
    assert(streamed == batch && batch.size == 3)
  }

  test("streaming segment-seen gate drops docs whose segments are in the corpus bloom") {
    import spark.implicits._
    // corpus doc is exactly one SegLen(=20)-token segment
    val seg1 = (1 to 20).map(i => s"w$i").mkString(" ")
    val novel = (1 to 20).map(i => s"n$i").mkString(" ")
    val corpDir = writeDocsFixture(Seq(10L -> seg1))
    val blob = graft.streaming.DocsStream.segmentBloom(
      spark.read.parquet(s"$corpDir/documents.parquet"))
    val input = MemoryStream[(Long, String)](spark)
    val q = graft.streaming.DocsStream.segmentSeenGate(
        input.toDF().toDF("doc_id", "text"), blob)
      .writeStream.format("memory").queryName("seen_gate")
      .outputMode("append").start()
    input.addData(Seq(
      1L -> seg1,              // 1/1 segments seen → 10000 bp, dropped
      2L -> novel,             // 0/1 seen → kept
      3L -> s"$seg1 $novel"    // 1/2 seen → 5000 bp, kept at the threshold
    ): _*)
    q.processAllAvailable()
    val kept = spark.table("seen_gate").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    q.stop()
    assert(kept == Set(2L, 3L))
  }

  test("replay: segment-seen gate keep set equals the batch bloom audit's") {
    import spark.implicits._
    // same odd/even split as dedup_bloom: even docs are the corpus the
    // blob is trained on, odd docs replay through the gate; at this scale
    // the filter is effectively exact (fpp ~ 1e-18) and hashing is
    // deterministic, so keep sets must agree exactly
    val sf = "/root/testdata/sf0.001"
    val docsDf = spark.read.parquet(s"$sf/documents.parquet")
    val batchKept = graft.operators.Dedup.dedupBloom(spark, sf)
      .where($"seen_bp" <= graft.streaming.DocsStream.SeenGateMaxBp)
      .collect().map(_.getLong(0)).toSet
    val blob = graft.streaming.DocsStream.segmentBloom(
      docsDf.where($"doc_id" % 2 === 0))
    val replayRows = docsDf.where($"doc_id" % 2 === 1)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val input = MemoryStream[(Long, String)](spark)
    val q = graft.streaming.DocsStream.segmentSeenGate(
        input.toDF().toDF("doc_id", "text"), blob)
      .writeStream.format("memory").queryName("seen_replay")
      .outputMode("append").start()
    input.addData(replayRows: _*)
    q.processAllAvailable()
    val streamKept = spark.table("seen_replay").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    q.stop()
    assert(streamKept == batchKept)
    // non-vacuous both ways: the gate kept some docs AND dropped some
    // (sf0.001 has docs above 5000 bp seen — verified in the batch audit)
    assert(streamKept.nonEmpty && streamKept.size < replayRows.size)
  }

  test("streaming oov gate keeps exactly the batch coverage filter's keep set") {
    import spark.implicits._
    val common = "alpha beta gamma delta alpha beta"
    val rows = Seq(
      1L -> s"$common alpha",                  // fully in-vocab
      2L -> s"$common zzq wvx qqj xxk yyw",    // ~45% OOV
      3L -> "zzq wvx qqj xxk yyw zzv")         // all OOV
    val fixDir = writeDocsFixture(rows)
    val k = 4
    val batchKept = graft.operators.TextAnalysis.oovStatsK(spark, fixDir, k)
      .where($"oov_bp" <= graft.streaming.DocsStream.OovGateMaxBp)
      .collect().map(_.getLong(0)).toSet
    val vocab = graft.streaming.DocsStream.oovVocab(
      spark.read.parquet(s"$fixDir/documents.parquet"), k)
    assert(vocab.toSet == Set("alpha", "beta", "gamma", "delta"))
    val input = MemoryStream[(Long, String)](spark)
    val q = graft.streaming.DocsStream.oovGate(
        input.toDF().toDF("doc_id", "text"), vocab)
      .writeStream.format("memory").queryName("oov_gate")
      .outputMode("append").start()
    input.addData(rows: _*)
    q.processAllAvailable()
    val streamKept = spark.table("oov_gate").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    q.stop()
    assert(streamKept == batchKept)
    assert(streamKept == Set(1L)) // doc 2 at 4545 bp and doc 3 at 10000 bp are cut
  }

  test("streaming dsir gate keeps exactly the batch importance filter's keep set") {
    import spark.implicits._
    val rows = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "en"),
      (2L, "der schnelle braune fuchs springt darueber hinweg", "de"),
      (3L, "the dog and the fox and the quick brown run", "en"),
      (4L, "le renard brun rapide saute pardessus le chien", "fr"))
    val d = java.nio.file.Files.createTempDirectory("graft-dsir").toString
    rows.toDF("doc_id", "text", "lang")
      .selectExpr("doc_id", "text", "lang", "'src0' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val batch = graft.operators.Selection.dsirWeights(spark, d).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val batchKept = batch.filter(_._2 >= 0.0).keySet
    val lr = graft.streaming.DocsStream.dsirLrTable(spark, d)
    val input = MemoryStream[(Long, String)](spark)
    val q = graft.streaming.DocsStream.dsirGate(
        input.toDF().toDF("doc_id", "text"), lr)
      .writeStream.format("memory").queryName("dsir_gate")
      .outputMode("append").start()
    input.addData(rows.map(r => (r._1, r._2)): _*)
    q.processAllAvailable()
    val streamed = spark.table("dsir_gate").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("llr")).toMap
    q.stop()
    assert(streamed.keySet == batchKept)
    // bit parity with the batch join+sum path, not just the same keep set
    streamed.foreach { case (id, w) => assert(w == batch(id)) }
    // the gate must actually cut something and actually keep something
    assert(batchKept.nonEmpty && batchKept != batch.keySet)
  }

  test("trained dsir threshold admits the reference top quartile on a real corpus") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val thr = graft.streaming.DocsStream.dsirThreshold(spark, sf)
    val batch = graft.operators.Selection.dsirWeights(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val batchKept = batch.filter(_._2 >= thr).keySet
    // ~the top quartile of 500 docs — a 0.0 cut would keep NOTHING here
    // (weights skew negative by the -KL argument in the scaladoc)
    assert(batch.values.forall(_ < 0.0))
    assert(batchKept.size >= 125 && batchKept.size <= 140)
    val lr = graft.streaming.DocsStream.dsirLrTable(spark, sf)
    val rows = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val input = MemoryStream[(Long, String)](spark)
    val q = graft.streaming.DocsStream.dsirGate(
        input.toDF().toDF("doc_id", "text"), lr, thr)
      .writeStream.format("memory").queryName("dsir_gate_trained")
      .outputMode("append").start()
    input.addData(rows: _*)
    q.processAllAvailable()
    val streamKept = spark.table("dsir_gate_trained").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    q.stop()
    assert(streamKept == batchKept)
  }

  test("replay: streaming pack stage equals batch pack_sequences") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val batch = graft.operators.Curation.packSequences(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    val replayRows = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val input = MemoryStream[(Long, String)](spark)
    val q = graft.streaming.DocsStream.packStage(
        input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("pack_stage")
      .outputMode("append").start()
    input.addData(replayRows) // one micro-batch ⇒ doc_id order per bucket
    q.processAllAvailable()
    val streamed = spark.table("pack_stage").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    q.stop()
    assert(streamed == batch && batch.nonEmpty)
  }

  test("streaming pack stage continues each bucket's stream across batches") {
    import spark.implicits._
    val input = MemoryStream[(Long, String)](spark)
    val q = graft.streaming.DocsStream.packStage(
        input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("pack_stage2")
      .outputMode("append").start()
    val doc = (1 to 200).map(i => s"w$i").mkString(" ") // 200 tokens
    input.addData(Seq(1L -> doc)); q.processAllAvailable()
    input.addData(Seq(2L -> doc)); q.processAllAvailable()
    q.stop()
    val rows = spark.table("pack_stage2").collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    // same bucket iff same placement continuation; different buckets both
    // start at 0. Either way doc 1 starts the stream.
    assert(rows(1L) == ((0L, 0L, 0L)))
    val sameBucket = spark.table("pack_stage2").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    if (sameBucket(1L) == sameBucket(2L))
      assert(rows(2L) == ((0L, 1L, 200L))) // continues at token 200 of seq 0
    else
      assert(rows(2L) == ((0L, 0L, 0L)))
  }

  test("content-dedup state survives a restart from checkpoint") {
    import spark.implicits._
    // real operational property: the dropDuplicatesWithinWatermark state
    // must come back from the checkpoint on restart, so a duplicate
    // arriving in run 2 of a resumed pipeline is still suppressed
    val srcDir = java.nio.file.Files.createTempDirectory("graft-ckpt-src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-ckpt-out").toString
    val schema = "doc_id LONG, text STRING, ingest_ts TIMESTAMP"
    def runOnce(): Unit = {
      val q = graft.streaming.DocsStream.dedupByContent(
          spark.readStream.schema(schema).json(srcDir))
        .select("doc_id", "text_hash")
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def t(sec: Long) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec))
    // run 1: two distinct docs plus an in-batch duplicate of doc 1
    Seq((1L, "alpha text", t(100)), (2L, "beta text", t(110)),
        (3L, "alpha text", t(120)))
      .toDF("doc_id", "text", "ingest_ts")
      .coalesce(1).write.mode("append").json(srcDir)
    runOnce()
    // run 2 (fresh query, same checkpoint): a late duplicate of doc 1
    // within the watermark horizon, and one genuinely new doc
    Seq((4L, "alpha text", t(130)), (5L, "gamma text", t(140)))
      .toDF("doc_id", "text", "ingest_ts")
      .coalesce(1).write.mode("append").json(srcDir)
    runOnce()
    val out = spark.read.parquet(outDir).collect()
      .map(r => r.getLong(0)).toSet
    // exactly one survivor per distinct text across BOTH runs: the run-2
    // duplicate (doc 4) was suppressed by restored state
    assert(out.intersect(Set(1L, 3L, 4L)).size == 1)
    assert(out.contains(2L) && out.contains(5L) && out.size == 3)
  }

  test("stateful-LSH near-dup state survives a restart from checkpoint") {
    import spark.implicits._
    // the standing LSH bucket table is the stream's whole value: a doc
    // indexed BEFORE a pipeline restart must still pair with a near-dup
    // arriving AFTER it, from flatMapGroupsWithState state restored out of
    // the checkpoint (same harness shape as the host-cap restart lock)
    val srcDir = java.nio.file.Files.createTempDirectory("graft-lsh-src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-lsh-ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-lsh-out").toString
    val schema = "doc_id LONG, text STRING"
    def runOnce(): Unit = {
      val q = graft.streaming.DocsStream.nearDupPairs(
          spark.readStream.schema(schema).json(srcDir))
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val base = "the quick brown fox jumps over the lazy dog while the " +
      "cat watches from the warm windowsill nearby"
    val docs = Seq(
      1L -> base,
      2L -> base,                           // exact duplicate, same run
      3L -> base.replace("lazy", "sleepy")) // near-dup arriving POST-restart
    // run 1: docs 1-2 populate the bucket state (pair (1,2) emits here)
    docs.take(2).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").json(srcDir)
    runOnce()
    // run 2 (fresh query, same checkpoint): doc 3 alone — every pair it
    // forms requires the restored run-1 bucket entries
    docs.drop(2).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").json(srcDir)
    runOnce()
    val streamed = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = graft.operators.Dedup
      .dedupMinhash(spark, writeDocsFixture(docs)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch, s"stream $streamed != batch $batch")
    // the load-bearing half: at least one CROSS-RESTART pair (doc 3 with a
    // run-1 doc) — impossible without restored state
    assert(streamed.exists { case (a, b, _) => b == 3L || a == 3L },
      s"no cross-restart pair in $streamed")
  }

  test("host-cap state survives a restart: a capped host stays capped") {
    import spark.implicits._
    // the domain cap must be durable across pipeline restarts — an SEO
    // farm that keeps arriving in later WARC drops stays cut off at capN
    // for the stream's lifetime, not per micro-batch
    val srcDir = java.nio.file.Files.createTempDirectory("graft-cap-src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cap-ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-cap-out").toString
    val schema = "doc_id LONG, host STRING, text STRING"
    def runOnce(): Unit = {
      val q = graft.streaming.DocsStream.hostCapGate(
          spark.readStream.schema(schema).json(srcDir), 2L)
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // run 1: three farm docs (cap 2 → doc 3 rejected) + one niche doc
    Seq((1L, "farm.example", "a"), (2L, "farm.example", "b"),
        (3L, "farm.example", "c"), (10L, "niche.example", "n"))
      .toDF("doc_id", "host", "text")
      .coalesce(1).write.mode("append").json(srcDir)
    runOnce()
    // run 2 (fresh query, same checkpoint): more farm docs — all rejected
    // by the RESTORED count — plus a brand-new host
    Seq((4L, "farm.example", "d"), (5L, "farm.example", "e"),
        (11L, "other.example", "o"))
      .toDF("doc_id", "host", "text")
      .coalesce(1).write.mode("append").json(srcDir)
    runOnce()
    val out = spark.read.parquet(outDir).collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 2L, 10L, 11L))
  }

  test("registered views + injected functions make the library SQL-usable") {
    val registered = graft.sources.Corpus.register(spark, "/root/testdata/sf0.001")
    assert(registered.contains("documents") && registered.contains("lineitem"))
    // a pure-SQL anagram reduce through the registered sort_chars
    val viaSql = spark.sql(
      """SELECT sort_chars(word) AS sig, count(DISTINCT word) AS n FROM (
        |  SELECT lower(t.tok) AS word
        |  FROM documents LATERAL VIEW explode(split(text, '\\s+')) t AS tok
        |  WHERE t.tok != ''
        |) GROUP BY 1 ORDER BY n DESC, sig LIMIT 5""".stripMargin).collect()
    assert(viaSql.nonEmpty && viaSql.forall(_.getLong(1) >= 1))
    // simhash60 via SQL equals the operator's materialized frame
    val viaSqlSim = spark.sql(
      """SELECT doc_id, simhash60(array_distinct(filter(
        |  transform(split(text, '\\s+'), t -> lower(t)), t -> t != ''))) AS sh
        |FROM documents""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaOp = graft.operators.Dedup.simhashes(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaSqlSim == viaOp)
  }

  test("nfc_normalize collapses combining characters to composed form") {
    // U+0065 U+0301 (e + combining acute) -> U+00E9
    val decomposed = "cafe\u0301"
    val composed = "caf\u00e9"
    assert(decomposed != composed && decomposed.length == 5)
    val rows = Seq(decomposed).toDF("t")
      .select(org.apache.spark.sql.graft.NormalizeNfc($"t").as("n")).as[String].collect()
    assert(rows.head == composed)
    // SQL-callable via extensions too
    val viaSql = spark.sql(s"SELECT nfc_normalize('$decomposed')").collect().head.getString(0)
    assert(viaSql == composed)
  }

  test("shingle_poly_hash is SQL-callable and matches the column API") {
    val viaSql = spark.sql("SELECT shingle_poly_hash('abcdef', 5, 131, 2147483647)")
      .collect().head.getSeq[Long](0)
    val viaCol = Seq("abcdef").toDF("t")
      .select(org.apache.spark.sql.graft.ShinglePolyHash($"t", 5, 131L, 2147483647L))
      .collect().head.getSeq[Long](0)
    assert(viaSql == viaCol && viaSql.length == 2)
  }

  test("sort_chars equals the built-in split/sort/join chain incl. non-ASCII") {
    val words = Seq("listen", "zyxwv", "", "a", "über", "Łódź", "banana", "a𝄞b")
    val rows = words.toDF("w").selectExpr(
      "sort_chars(w) AS a",
      "array_join(array_sort(split(w, '')), '') AS b").collect()
    rows.foreach(r => assert(r.getString(0) == r.getString(1), r.toString))
  }

  test("float_dot is SQL-callable via GraftExtensions") {
    val v = spark.sql(
      "SELECT float_dot(array(CAST(1.5 AS FLOAT), CAST(2 AS FLOAT)), array(CAST(2 AS FLOAT), CAST(3 AS FLOAT)))")
      .collect().head.getDouble(0)
    assert(v == 9.0)
  }

  test("minhash_sig/winnow_mins/token_stats/sig_groups are SQL-callable") {
    import graft.operators.Dedup
    // minhash_sig over a known hash array equals the column-API expression
    val viaSql = spark.sql("SELECT minhash_sig(array(5L, 17L, 999L))")
      .collect().head.getSeq[Long](0)
    val viaApi = Seq(Seq(5L, 17L, 999L)).toDF("h")
      .select(org.apache.spark.sql.graft.MinhashSig(
        org.apache.spark.sql.functions.col("h"),
        Dedup.CoefA, Dedup.CoefB, Dedup.P))
      .collect().head.getSeq[Long](0)
    assert(viaSql == viaApi && viaSql.length == Dedup.K)
    // winnow_mins: window minima of [9,2,7,5] with w=2 → distinct sorted
    val wm = spark.sql("SELECT winnow_mins(array(9L, 2L, 7L, 5L), 2)")
      .collect().head.getSeq[Long](0)
    assert(wm == Seq(2L, 5L))
    // token_stats struct fields
    val ts = spark.sql(
      "SELECT token_stats(array('a', 'b', 'a')).n_tokens, " +
      "token_stats(array('a', 'b', 'a')).n_distinct").collect().head
    assert(ts.getLong(0) == 3L && ts.getLong(1) == 2L)
    // sig_groups: the whole per-doc combiner from SQL (stopword dropped,
    // anagram family grouped under its sorted-letter signature)
    val sg = spark.sql(
      "SELECT inline(sig_groups(array('listen', 'silent', 'the')))")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(sg.keySet == Set("eilnst"))
    assert(sg("eilnst").split(" ").toSet == Set("listen", "silent"))
  }

  test("blocklistGate streaming twin keeps exactly the batch " +
      "word_blocklist_gate keep set") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val rows = Seq(
      1L -> "clean words only",
      2L -> "a vector appears here",
      3L -> "plain SPAM shouting", // lowered token membership
      4L -> "nothing bad at all")
    val d = writeDocsFixture(rows)
    val batchKeep = graft.operators.Curation.wordBlocklistGate(spark, d)
      .collect().filter(_.getLong(3) == 1L).map(_.getLong(0)).toSet
    val input = MemoryStream[(Long, String)](spark)
    val q = graft.streaming.DocsStream.blocklistGate(
      input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("blgate")
      .outputMode("append").start()
    input.addData(rows: _*)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("blgate").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(streamed == batchKeep)
    assert(streamed == Set(1L, 4L)) // the gate actually discriminates
  }

  test("compressionGateStage streaming twin replays equal to the batch " +
      "gate and actually drops the repetitive doc") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val gibberish = (1 to 60).map(i =>
      java.lang.Long.toString(i * 2654435761L % 4586471023L, 36)).mkString(" ")
    val rows = Seq(
      1L -> gibberish,         // incompressible: keep
      2L -> ("spam ham " * 400), // collapses under deflate: drop
      3L -> "tiny")            // sub-overhead: ratio >10000, keep
    val d = writeDocsFixture(rows)
    val batchKeep = graft.operators.Curation.compressionGateOf(
      spark.read.parquet(s"$d/documents.parquet"))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val input = MemoryStream[(Long, String)](spark)
    val q = graft.streaming.DocsStream.compressionGateStage(
      input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("zgate")
      .outputMode("append").start()
    input.addData(rows: _*)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("zgate").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(streamed == batchKeep)
    assert(streamed == Set(1L, 3L)) // the gate actually discriminates
  }

  test("ensembleGate / mojibakeGate / redactStage streaming twins replay " +
      "equal to their batch operators") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val good = (1 to 6).map(_ =>
      "the quick brown foxes jumped over with many lazy dogs today.")
      .mkString("\n")
    val rows = Seq(
      1L -> good, // majority keep
      2L -> "too short.", // gopher + clf drop
      3L -> (good + " curly { brace"), // c4 drops, gopher+clf decide
      4L -> "mail me at bob12345678@example.com or call 123456789 now")
    val d = writeDocsFixture(rows)

    def replay(name: String,
        stage: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
        : Map[Long, String] = {
      val input = MemoryStream[(Long, String)](spark)
      val q = stage(input.toDF().toDF("doc_id", "text"))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      input.addData(rows: _*)
      q.processAllAvailable(); q.stop()
      spark.table(name).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    }

    // ensemble: streamed keep set == batch majority keeps
    val batchKeep = graft.operators.Curation.qualityEnsemble(spark, d)
      .collect().filter(_.getLong(5) == 1L).map(_.getLong(0)).toSet
    assert(replay("ensgate", graft.streaming.DocsStream.ensembleGate)
      .keySet == batchKeep)

    // mojibake: a corrupted doc drops, clean ones pass
    val rowsM = rows :+ (5L -> "broken Ã© face")
    val dm = writeDocsFixture(rowsM)
    val batchClean = graft.operators.Curation.mojibakeStats(spark, dm)
    assert(batchClean.collect()(0).getLong(2) == 1L) // exactly one affected
    val inputM = MemoryStream[(Long, String)](spark)
    val qm = graft.streaming.DocsStream.mojibakeGate(
      inputM.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("mojigate")
      .outputMode("append").start()
    inputM.addData(rowsM: _*)
    qm.processAllAvailable(); qm.stop()
    assert(spark.table("mojigate").collect().map(_.getAs[Long]("doc_id"))
      .toSet == Set(1L, 2L, 3L, 4L))

    // redact: streamed rewritten text hashes to the batch redacted_md5
    val batchMd5 = graft.operators.TextAnalysis.redactPii(spark, d)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val streamed = replay("redactstage", graft.streaming.DocsStream.redactStage)
    assert(streamed.keySet == rows.map(_._1).toSet) // a stage, not a gate
    streamed.foreach { case (id, text) =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(h == batchMd5(id), s"doc $id redaction diverged")
    }
    assert(streamed(4L).contains("<EMAIL>") && streamed(4L).contains("<NUM>"))
  }

  test("classifierGate streaming twin keeps exactly logreg_score's " +
      "pred=1 set under the batch-trained weights") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-lrgate").toString
    val rows = Seq(
      (1L, "alpha beta alpha good words", "en"),
      (2L, "alpha beta beta fine words", "en"),
      (3L, "gamma delta gamma junk words", "fr"),
      (4L, "gamma delta delta junk stuff", "fr"))
    rows.toDF("doc_id", "text", "lang")
      .selectExpr("doc_id", "text", "lang", "'s' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    val batchKeep = graft.operators.Classify.logregScore(spark, d)
      .collect().filter(_.getLong(3) == 1L).map(_.getLong(0)).toSet
    val w = graft.operators.Classify.lrTrainedWeights(spark, d)
    val input = MemoryStream[(Long, String)](spark)
    val q = graft.streaming.DocsStream.classifierGate(
      input.toDF().toDF("doc_id", "text"), w)
      .writeStream.format("memory").queryName("lrgate")
      .outputMode("append").start()
    input.addData(rows.map(r => (r._1, r._2)): _*)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("lrgate").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(streamed == batchKeep)
    assert(streamed == Set(1L, 2L)) // the gate actually discriminates

    // Boundary (ADVICE r11): a raw margin of exactly −1e-6 has
    // σ = 0.49999999975, which HALF_UP-rounds to 0.500000 at 6 dp — the
    // batch pred KEEPS it. The stream must threshold on the same rounded
    // sigmoid, not the raw margin sign, or this doc drifts. Hand-built
    // weights: bias −0.000001, every bucket 0 ⇒ every doc's margin is
    // exactly −0.000001.
    val zeroW = (0L until graft.operators.Classify.LrBuckets.toLong)
      .map(_ -> BigDecimal("0.000000")).toMap +
      (-1L -> BigDecimal("-0.000001"))
    val inputB = MemoryStream[(Long, String)](spark)
    val qb = graft.streaming.DocsStream.classifierGate(
      inputB.toDF().toDF("doc_id", "text"), zeroW)
      .writeStream.format("memory").queryName("lrgateb")
      .outputMode("append").start()
    inputB.addData((9L, "any words at all"))
    qb.processAllAvailable(); qb.stop()
    assert(spark.table("lrgateb").collect()
      .map(_.getAs[Long]("doc_id")).toSet == Set(9L),
      "margin −1e-6 rounds to σ=0.500000 and must be kept")

    // Pruned weight map (code-review r12): a bucket ABSENT from the map
    // must contribute 0 to the margin — the batch inner join's semantics —
    // not NULL-poison it and silently drop the doc. One positive-bias
    // weight map with NO token buckets: every doc must still be KEPT.
    val prunedW = Map(-1L -> BigDecimal("0.100000"))
    val inputP = MemoryStream[(Long, String)](spark)
    val qp = graft.streaming.DocsStream.classifierGate(
      inputP.toDF().toDF("doc_id", "text"), prunedW)
      .writeStream.format("memory").queryName("lrgatep")
      .outputMode("append").start()
    inputP.addData((11L, "tokens with no trained bucket"))
    qp.processAllAvailable(); qp.stop()
    assert(spark.table("lrgatep").collect()
      .map(_.getAs[Long]("doc_id")).toSet == Set(11L),
      "unknown buckets must contribute 0, not NULL-drop the doc")
  }

  test("chat stream: parse + gate over raw lines equals the batch gate") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val batch = graft.operators.Chat.chatGate(spark, "unused").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
      .toSet
    // stream the SAME committed fixture files as a text source
    val q = graft.operators.Chat.chatGateStage(
      graft.operators.Chat.parseChatLines(
        spark.readStream.text(graft.operators.Chat.FixtureDir)
          .toDF("line")))
      .writeStream.format("memory").queryName("chatgate")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("chatgate").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
      .toSet
    assert(streamed == batch)
    assert(streamed.exists(_._4 == "bad_alternation")) // gate discriminates
    // a MemoryStream corrupt line is one dropped row, not a query abort
    val input = MemoryStream[String](spark)
    val q2 = graft.operators.Chat.parseChatLines(input.toDF().toDF("line"))
      .writeStream.format("memory").queryName("chatparse")
      .outputMode("append").start()
    input.addData("""{"conv_id":90,"source":"s","messages":[{"role":"user","content":"x"},{"role":"assistant","content":"y"}]}""",
      """{"conv_id":91,"messages": [""")
    q2.processAllAvailable(); q2.stop()
    assert(spark.table("chatparse").collect()
      .map(_.getAs[Long]("conv_id")).toSet == Set(90L))
  }

  test("chat stream: prompt-dedup state suppresses re-submitted prompts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def line(id: Long, prompt: String) =
      s"""{"conv_id":$id,"source":"s","messages":[{"role":"user","content":"$prompt"},{"role":"assistant","content":"a$id"}]}"""
    val input = MemoryStream[(String, java.sql.Timestamp)](spark)
    def t(sec: Long) =
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec))
    val q = graft.operators.Chat.promptDedupStage(
      graft.operators.Chat.parseChatLines(
        input.toDF().toDF("line", "ingest_ts")))
      .writeStream.format("memory").queryName("promptdedup")
      .outputMode("append").start()
    input.addData(
      (line(1, "What is 2+2?"), t(100)),
      (line(2, "  what   IS 2+2? "), t(110)), // canonical dup of conv 1
      (line(3, "something else"), t(120)))
    q.processAllAvailable()
    input.addData((line(4, "WHAT IS 2+2?"), t(130))) // late dup, in horizon
    q.processAllAvailable(); q.stop()
    val out = spark.table("promptdedup").collect()
      .map(_.getAs[Long]("conv_id")).toSet
    assert(out.intersect(Set(1L, 2L, 4L)).size == 1)
    assert(out.contains(3L) && out.size == 2)
  }

  test("mojibakeRepairStage streaming twin equals the batch repair") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val rows = Seq(1L -> "CafÃ© rÃ©sumÃ©", 2L -> "clean ascii",
      3L -> "Ã bare marker stays")
    val d = writeDocsFixture(rows)
    val batch = graft.operators.Curation.fixMojibakeStage(
      spark.read.parquet(s"$d/documents.parquet"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("text"), r.getAs[Long]("mojibake_repaired"))))
      .toMap
    val input = MemoryStream[(Long, String)](spark)
    val q = graft.streaming.DocsStream.mojibakeRepairStage(
      input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("mjrepair")
      .outputMode("append").start()
    input.addData(rows: _*)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("mjrepair").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("text"), r.getAs[Long]("mojibake_repaired"))))
      .toMap
    assert(streamed == batch)
    assert(streamed(1L)._1 == "Café résumé" && streamed(1L)._2 == 1L)
    assert(streamed(3L)._2 == 0L)
  }
}

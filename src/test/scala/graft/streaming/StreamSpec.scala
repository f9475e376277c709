package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

class StreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"

  /**
   * File streams need a directory. Write 3 chunks SEQUENTIALLY (by event_id
   * range, which is time order in this table) so the file source replays them
   * in arrival order like a real stream — simultaneous writes would randomize
   * mtime order and deliver chunks out of event-time order.
   */
  lazy val streamDir: String = {
    val d = java.nio.file.Files.createTempDirectory("events_stream").toString
    val df = spark.read.parquet(s"$sf/events.parquet")
    val n = df.agg(max("event_id")).head().getLong(0) + 1
    for (i <- 0 until 3) {
      df.where(col("event_id") >= i * n / 3 && col("event_id") < (i + 1) * n / 3)
        .coalesce(1).write.mode("append").parquet(d)
      Thread.sleep(1100) // distinct mtimes -> deterministic source order
    }
    d
  }

  test("streaming PIP enrichment == batch join (stateless codegen expression in a stream)") {
    val fps = graft.sources.CityGmlReader.toFootprints(
      graft.sources.CityGmlReader.parseFile(graft.Fixtures.fzkV2), 0)
      .filter(_.feature_type == "Building")
    val pts = (0L until 3000L).map { i =>
      val (x, y) = graft.sources.ImageGen.geotag(i); (f"img_$i%010d", x, y)
    }
    val dir = java.nio.file.Files.createTempDirectory("pip_stream").toString
    pts.toDF("image_id", "x", "y").repartition(5).write.mode("overwrite").parquet(dir)
    // PIP is a stateless map-only expression, so the streaming plan is the
    // batch plan over a micro-batch file source
    val stream = spark.readStream.schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", 2).parquet(dir)
    val q = graft.operators.PipJoin.auto(stream, fps).writeStream
      .format("memory").queryName("pip_stream").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("pip_stream").select("image_id", "feature_id")
      .as[(String, String)].collect().toSet
    val want = graft.operators.PipJoin.bruteForce(pts, fps)
    assert(got === want)
    assert(want.nonEmpty)
  }

  test("streaming kNN enrichment == brute force (knn_matches in a micro-batch stream)") {
    val targets = (0 until 60).map { i =>
      (f"t$i%03d", 457800.0 + (i % 10) * 20.0, 5439000.0 + (i / 10) * 18.0)
    }
    val pts = (0L until 2000L).map { i =>
      val (x, y) = graft.sources.ImageGen.geotag(i); (f"p_$i%06d", x, y)
    }
    val dir = java.nio.file.Files.createTempDirectory("knn_stream").toString
    pts.toDF("probe_id", "x", "y").repartition(4).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", 2).parquet(dir)
    val q = graft.operators.KnnJoin.broadcastGrid(stream, targets, 3).writeStream
      .format("memory").queryName("knn_stream").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("knn_stream")
      .as[(String, String, Double, Int)].collect().toSet
    val want = graft.operators.KnnJoin.bruteForce(pts, targets, 3).toSet
    assert(got === want)
  }

  test("quality-gate pack is streaming-safe: gopher + repetition + redaction == batch on a stream") {
    // the whole scan-local curation surface (q57/q58/q60 packs) applied
    // INSIDE a structured stream — stateless codegen expressions, so a
    // micro-batch replay must produce byte-identical columns to the batch
    // run over the same files
    val rows = (0L until 300L).map { i =>
      val text = i % 4 match {
        case 0 => s"line a$i\nline a$i\n• bullet\ncall +49 30 555 $i now"
        case 1 => s"spam spam spam spam spam spam spam $i"
        case 2 => s"contact user$i@example.com about item $i ..."
        case _ => s"plain document number $i with ordinary words w$i"
      }
      (i, text)
    }
    val dir = java.nio.file.Files.createTempDirectory("gate_stream").toString
    rows.toDF("doc_id", "text").repartition(3).write.mode("overwrite").parquet(dir)
    def gateCols(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.select(col("doc_id") +:
        graft.functions.TextFunctions.redactPii(col("text")).as("clean") +:
        graft.functions.TextFunctions.repetitionFrac(col("text")).as("rep") +:
        graft.functions.TextFunctions.gopherColumns(col("text")): _*)
    val schema = spark.read.parquet(dir).schema
    val q = gateCols(spark.readStream.schema(schema).parquet(dir)).writeStream
      .format("memory").queryName("gate_stream").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("gate_stream").collect().map(_.toSeq).toSet
    val want = gateCols(spark.read.parquet(dir)).collect().map(_.toSeq).toSet
    assert(got === want)
    assert(want.nonEmpty)
    // the fixtures actually exercise every rule
    val byId = spark.table("gate_stream").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(byId(4L).getDouble(4) > 0.0, "dup_line_frac must fire") // doc 4: i%4==0
    assert(byId(1L).getDouble(2) > 0.5, "repetition must fire")
    assert(byId(2L).getString(1).contains("<EMAIL>"), "redaction must fire")
  }

  test("norm_text + chunkDocs + bpe_encode are streaming-safe (stateless, micro-batch == batch)") {
    // the newest scan-local surface — normalization kernel, sliding-window
    // chunking (a 1→N generate, still stateless), and the plan-reference
    // BPE encode — replayed through a stream must match the batch run
    // byte-for-byte
    val rows = (0L until 200L).map { i =>
      (i, s"Töken$i résumé word$i alpha beta gamma delta epsilon zeta eta theta")
    }
    val dir = java.nio.file.Files.createTempDirectory("norm_stream").toString
    rows.toDF("doc_id", "text").repartition(3).write.mode("overwrite").parquet(dir)
    val model = graft.functions.BpeTokenizer.train(
      spark.read.parquet(dir), numMerges = 40, maxWords = 500)
    def stage(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      graft.functions.TextFunctions.chunkDocs(
        df.select(col("doc_id"),
          graft.functions.TextFunctions.normText(col("text")).as("text")),
        chunkTokens = 4, overlap = 1)
        .withColumn("toks",
          graft.functions.BpeTokenizer.encodeTokens(model, col("chunk_text")))
    val schema = spark.read.parquet(dir).schema
    val q = stage(spark.readStream.schema(schema).parquet(dir)).writeStream
      .format("memory").queryName("norm_stream").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("norm_stream").collect().map(_.toSeq).toSet
    val want = stage(spark.read.parquet(dir)).collect().map(_.toSeq).toSet
    assert(got === want)
    assert(want.nonEmpty)
    // fixtures exercise the kernels: accents stripped, >1 chunk, merges used
    val sample = spark.table("norm_stream").collect()
    assert(sample.forall(!_.getString(2).contains("ö")), "normalization must fire")
    assert(sample.map(_.getLong(0)).groupBy(identity).head._2.length >= 1 &&
      sample.length > 200, "chunking must fan out")
    assert(sample.exists(_.getSeq[String](4).exists(_.length > 1)), "BPE merges must fire")
  }

  test("streaming KDE surface (complete mode) == batch kdeGrid bit-exactly") {
    // the live-heatmap shape: the scan-local 9-way neighborhood explode and
    // kernel filter run per micro-batch; the per-cell state accumulates in
    // the streaming aggregation and complete mode re-emits the surface.
    // The ascending-fold density is computed on the FINAL collected list, so
    // after the full replay it must equal the batch surface bit-for-bit
    def stage(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Hotspots.kdeGrid(
        df.select(
          (lit(457840.0) + ((col("event_id") * 7919L) % 1600L).cast("double") * 0.01).as("x"),
          (lit(5439081.0) + ((col("event_id") * 104729L) % 1400L).cast("double") * 0.01).as("y")),
        457840.0, 5439081.0, cell = 1.6, h2 = 2.56)
    val src = spark.readStream.schema(spark.read.parquet(streamDir).schema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir)
    val q = stage(src).writeStream
      .format("memory").queryName("kde_stream").outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("kde_stream")
      .as[(Long, Long, Long, Double)].collect().toSet
    val want = stage(spark.read.parquet(streamDir))
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got === want, "replayed density surface must equal the batch one")
    assert(want.nonEmpty)
  }

  test("sketch aggregates are streaming-safe: MG + KLL guarantees hold in complete mode") {
    // the TypedImperativeAggregates maintain their buffers incrementally in
    // the streaming state store; the result after the replay must be a LEGAL
    // summary of the whole stream — same membership/error bounds as batch
    // (order-dependence is exactly why the assertion is the guarantee, not
    // row equality)
    import org.apache.spark.sql.graft.TextFunctionsImpl
    val src = spark.readStream.schema(spark.read.parquet(streamDir).schema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir)
    val agg = src.groupBy("event_type").agg(
      TextFunctionsImpl.freq_topk(col("user_id").cast("string"), 64, 64).as("hh"),
      TextFunctionsImpl.kll_quantiles(col("value"), 128, Seq(0.5)).as("med"))
    val q = agg.writeStream.format("memory").queryName("sketch_stream")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("sketch_stream")
      .select(col("event_type"), col("hh"), element_at(col("med"), 1).as("med"))
      .as[(String, Seq[(String, Long)], Double)].collect()
    assert(got.nonEmpty)
    val batch = spark.read.parquet(streamDir)
    got.foreach { case (et, hh, med) =>
      val truth = batch.where(col("event_type") === et)
        .groupBy(col("user_id").cast("string").as("u")).count()
        .as[(String, Long)].collect().toMap
      val n = truth.values.sum
      val eps = n / 65 // capacity + 1
      val est = hh.toMap
      truth.filter(_._2 > eps).keys.foreach { u =>
        assert(est.contains(u), s"$et: heavy user $u missing (freq=${truth(u)}, eps=$eps)")
      }
      est.foreach { case (u, e) =>
        val t = truth.getOrElse(u, 0L)
        assert(e <= t && t - e <= eps, s"$et: '$u' estimate $e outside [${t - eps}, $t]")
      }
      // KLL median rank-error bound vs the exact sorted values
      val vals = batch.where(col("event_type") === et)
        .select(col("value")).as[Double].collect().sorted
      val epsK = 2.0 * (math.log(math.max(vals.length, 256).toDouble / 128) /
        math.log(2.0)) / 128
      val err = math.abs(vals.count(_ <= med) - vals.length / 2.0) / vals.length.toDouble
      assert(err <= math.max(epsK, 0.02), f"$et: streamed median $med rank err $err%.4f")
    }
  }

  test("streaming native session_window == batch Sessionize.sessions (q70 semantics)") {
    // the same Sessionize.sessions call under readStream: append mode emits
    // a session only once the watermark passes it, so a far-future sentinel
    // user pushes the watermark past every real session in the final
    // trigger; the sentinel's own (never-closed) session must not appear
    val events = spark.read.parquet(s"$sf/events.parquet")
    val d = java.nio.file.Files.createTempDirectory("events_sesswin").toString
    val n = events.agg(max("event_id")).head().getLong(0) + 1
    for (i <- 0 until 2) {
      events.where(col("event_id") >= i * n / 2 && col("event_id") < (i + 1) * n / 2)
        .coalesce(1).write.mode("append").parquet(d)
      Thread.sleep(1100)
    }
    events.limit(1).select(
      lit(n).as("event_id"),
      lit(java.sql.Timestamp.valueOf("2100-01-01 00:00:00")).as("ts"),
      lit(-1L).as("user_id"), lit("sentinel").as("event_type"),
      lit(0.0).as("value"), lit("{}").as("props"))
      .coalesce(1).write.mode("append").parquet(d)
    // watermarks require TIMESTAMP (not the parquet NTZ flavor) — cast on
    // both sides so the session bounds collect identically
    val stream = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", 1).parquet(d)
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "30 minutes")
    val q = graft.operators.Sessionize.sessions(stream, gapSec = 1800).writeStream
      .format("memory").queryName("sesswin_test").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("user_id", "session_start", "session_end", "n_events", "duration_us")
        .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long, Long)].collect().toSet
    val got = canon(spark.table("sesswin_test").where(col("user_id") >= 0))
    val want = canon(graft.operators.Sessionize.sessions(
      events.withColumn("ts", col("ts").cast("timestamp")), gapSec = 1800))
    assert(got === want)
    assert(want.nonEmpty)
  }
}

package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** One cold pass of one workload in a fresh JVM and a fresh SparkSession.
  *
  * The harness calls graft's public API from outside — registered queries
  * through `SparkEntry.queries`, store/stream/index functions directly —
  * and times each call. Every registered query's output is written in full
  * to a parquet file sink, never `count()`ed, so Catalyst cannot prune
  * computed columns. Output checks run after the pass (see check.py); this
  * process only dumps what they need.
  *
  *   Harness <workload> <inputDir> <workDir> <resultJson> <trace 0|1> <k> <spawnEpochMs>
  */
object Harness {
  /** Registered queries of the research pass, in pipeline order so each
    * layer's first consumer pays for the session memos it builds: a
    * swing-trading session, then an LLM-data curation pass. */
  val Research: Seq[(String, String)] = Seq(
    "table_contracts" -> "relational",
    "bars_daily" -> "features",
    "feat_sma" -> "features",
    "sig_ema_crossover" -> "signals",
    "backtest_trades" -> "backtest",
    "ml_training_frame" -> "ml",
    "insider_agg" -> "fundamentals",
    "corpus_clean" -> "text",
    "dedup_minhash" -> "dedup",
    "sketch_token_freq_cms" -> "operators",
    "ann_ivfpq" -> "ann",
    "retrieval_rrf" -> "retrieval")

  def main(args: Array[String]): Unit = {
    val Array(workload, input, work, resultPath, traceArg, k, spawnMs) = args
    val trace = traceArg == "1"
    val spark = SparkSession.builder()
      .master(s"local[$k]")
      .config("spark.sql.shuffle.partitions", k)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.maxFields", "500")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val spans = new Spans(spark, tagJobs = trace)
    val tracer = if (trace) Some(new Tracer(spark, spans)) else None
    tracer.foreach(_.register())
    val result = new Result
    val ingest = if (workload == "ingest") Some(new Ingest(spark, input, work, spans, result, trace)) else None
    ingest.foreach(_.setUp())
    result.num("setup_s", (System.currentTimeMillis() - spawnMs.toLong) / 1e3)

    spans("pass", "perfbench") {
      workload match {
        case "research" => runQueries(spark, input, work, Research, spans, result)
        case "ingest" => ingest.get.loop()
        case w => sys.error(s"unknown workload $w")
      }
    }
    val passSpan = spans.all.find(_.name == "pass").get
    result.num("wall_s", spans.seconds(passSpan))
    result.num("peak_rss_mb", peakRssMb())

    // everything below is outside the timed region
    tracer.foreach { t =>
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val layers = t.layerMetrics()
      layers.foreach { case (k, v) => result.num(k, v) }
      val layerSelf = Spans.Layers.map(l => layers(s"$l.self_s")).sum
      result.num("trace.wall_s", spans.seconds(passSpan))
      result.num("trace.unattributed_s", spans.seconds(passSpan) - layerSelf)
      result.num("trace.listener_s", t.listenerSeconds)
      val (trig, addBatch) = t.triggerSeconds
      result.num("streaming.trigger_s", trig)
      result.num("streaming.add_batch_s", addBatch)
      Seq("sources.write_amp", "sources.maintain_s", "sources.bytes_rewritten",
        "etl.buckets_touched").foreach(k => result.add(k, 0.0))
      ingest.foreach(_.traceExtras(t))
      result.num("ann.index_bytes", ingest.map(_.indexBytes).getOrElse(
        dirBytes(spark, work + "/tmp", _.startsWith("graft-ivfpq-"))).toDouble)
      result.num("sqlx.memo_frames", graft.sqlx.FrameCache.size.toDouble)
      writeSpans(spans, s"$work/spans.jsonl")
    }
    if (workload != "ingest") {
      result.num("bytes_stored", dirBytes(spark, s"$work/out").toDouble)
      result.num("bytes_ingested", dirBytes(spark, input, _.endsWith(".parquet")).toDouble)
      val names = Research.map(_._1).toSet
      val oracles = SparkEntry.oracleSql(spark, input, names).filter { case (n, _) => names(n) }
      Files.write(Paths.get(s"$work/oracle_sql.json"),
        Json.obj(oracles.toSeq.sortBy(_._1).map { case (n, s) => n -> Json.str(s) })
          .getBytes(StandardCharsets.UTF_8))
    } else ingest.get.dumpChecks()
    result.text("spark_version", spark.version)
    result.text("jvm_version", System.getProperty("java.vm.version"))
    Files.write(Paths.get(resultPath), result.json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Runs each registered query once, writing its full output to parquet.
    * A call that throws is recorded as failed and the pass goes on. */
  def runQueries(spark: SparkSession, input: String, work: String,
                 calls: Seq[(String, String)], spans: Spans, result: Result): Unit =
    calls.foreach { case (name, layer) =>
      result.attempt(name) {
        spans(name, layer) {
          SparkEntry.queries(name)(spark, input)
            .write.mode("overwrite").parquet(s"$work/out/$name")
        }
      }
    }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def dirBytes(spark: SparkSession, dir: String, keep: String => Boolean = _ => true): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else fs.listStatus(p).filter(s => keep(s.getPath.getName))
      .map(s => fs.getContentSummary(s.getPath).getLength).sum
  }

  private def writeSpans(spans: Spans, path: String): Unit = {
    val lines = spans.all.map { s =>
      Json.obj(Seq("id" -> s.id.toString, "name" -> Json.str(s.name),
        "layer" -> Json.str(s.layer), "parent" -> s.parent.toString,
        "start_us" -> s.start.toString, "end_us" -> s.end.toString))
    }
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** What one pass reports: named numbers, call outcomes and latency samples. */
final class Result {
  private val nums = mutable.LinkedHashMap.empty[String, Double]
  private val texts = mutable.LinkedHashMap.empty[String, String]
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val failures = mutable.ArrayBuffer.empty[(String, String)]
  private var attempted = 0

  def num(k: String, v: Double): Unit = nums(k) = v
  def add(k: String, v: Double): Unit = nums(k) = nums.getOrElse(k, 0.0) + v
  def text(k: String, v: String): Unit = texts(k) = v
  def sample(k: String, v: Double): Unit = samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v

  /** Counts one attempted operation; a non-fatal error marks it failed. */
  def attempt(name: String)(body: => Any): Unit = {
    attempted += 1
    try body catch {
      case NonFatal(e) =>
        failures += name -> Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
    }
  }

  def json: String = Json.obj(Seq(
    "attempted" -> attempted.toString,
    "failures" -> Json.arr(failures.map { case (n, m) => Json.obj(Seq("op" -> Json.str(n), "error" -> Json.str(m))) }.toSeq),
    "metrics" -> Json.obj(nums.toSeq.map { case (k, v) => k -> Json.num(v) }),
    "info" -> Json.obj(texts.toSeq.map { case (k, v) => k -> Json.str(v) }),
    "samples" -> Json.obj(samples.toSeq.map { case (k, v) => k -> Json.arr(v.map(Json.num).toSeq) })))
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** The `ingest` workload: one closed-loop client applying small day batches
  * to a seeded base store, with reads between batches. */
final class Ingest(spark: SparkSession, input: String, work: String, spans: Spans,
                   result: Result, trace: Boolean) {
  private val props = {
    val p = new java.util.Properties
    val in = Files.newInputStream(Paths.get(s"$input/ingest.properties"))
    try p.load(in) finally in.close()
    p
  }
  private val symbols = props.getProperty("symbols").toLong
  private val forgetEvery = props.getProperty("forget_every").toInt
  private val forgetSets: Seq[Seq[Long]] = Iterator.from(0)
    .map(i => Option(props.getProperty(s"forget.$i")))
    .takeWhile(_.isDefined).map(_.get.split(",").map(_.toLong).toSeq).toSeq
  private val batchDir = s"$input/batches"
  private val batches = new java.io.File(batchDir).list().filter(_.startsWith("events_")).sorted.toSeq
  private val store = s"$work/store"
  private val mv = s"$work/mv"
  private val wm = s"$work/watermarks"
  private val index = s"$work/ivfpq"
  private val vecs = s"$work/vecs"
  private val stream = s"$work/stream"
  private val keys = Seq("event_type", "date")
  private var increment = 0L
  private val forgotten = mutable.ArrayBuffer.empty[Long]
  private val deleted = mutable.ArrayBuffer.empty[Long]
  private var ingestedBytes = 0L

  private def baseEvents: DataFrame = graft.Tables.events(spark, input)
  private def storeRows(ev: DataFrame): DataFrame = ev.select(
    col("event_id"), col("user_id"), col("event_type"), col("value"),
    datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")).as("day"))
  private def embeddings(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))

  /** Base store, view, watermark state and index: part of set-up. */
  def setUp(): Unit = {
    storeRows(baseEvents).repartition(4)
      .write.parquet(graft.sources.TableMaintenance.dataPath(store, 1L))
    graft.sources.TableMaintenance.initGen(spark, store, Seq("user_id", "day"), Seq("user_id"))
    graft.etl.MaterializedAgg.writeInit(
      baseEvents.withColumn("date", col("ts").cast("date")), keys, "value", mv)
    graft.etl.Watermarks.writeState(graft.etl.Watermarks.watermarkTable(spark, input), wm)
    graft.Tables.embeddings(spark, input).write.parquet(vecs)
    graft.ann.IvfPq.writeIndex(embeddings(spark.read.parquet(vecs)), index, dim = 64)
    Files.createDirectories(Paths.get(stream))
  }

  def loop(): Unit = batches.zipWithIndex.foreach { case (file, b) =>
    val t0 = spans.nowUs
    commit(file, b)
    result.sample("commit_s", (spans.nowUs - t0) / 1e6)
    reads(b)
  }

  private def commit(file: String, b: Int): Unit = {
    val landed = Paths.get(s"$stream/$file")
    spans("land", "perfbench") {
      Files.copy(Paths.get(s"$batchDir/$file"), landed, StandardCopyOption.REPLACE_EXISTING)
    }
    ingestedBytes += Files.size(landed)
    result.attempt("drain") {
      spans("drain", "streaming") {
        graft.streaming.Drain.availableNow(
          graft.Tables.eventsStream(spark, stream, maxFilesPerTrigger = 1)
            .writeStream
            .option("checkpointLocation", s"$work/checkpoint")
            .foreachBatch { (df: DataFrame, id: Long) =>
              spans("refresh", "etl") {
                val inc = df.withColumn("date", col("ts").cast("date")).localCheckpoint()
                val before = if (trace) viewGenerations() else Set.empty[String]
                graft.etl.MaterializedAgg.refreshOnce(spark, mv, id, inc, keys, "value")
                // a refresh writes one new generation per bucket it touches
                if (trace) result.add("etl.buckets_touched", (viewGenerations() -- before).size)
              }
              ()
            })
      }
    }
    result.attempt("watermark") {
      spans("watermark", "etl") {
        val syms = spark.read.parquet(landed.toString).select(col("user_id").as("symbol_id")).distinct()
        graft.etl.Watermarks.updateWithRetry(spark, wm) { cur =>
          graft.etl.Watermarks.updateWatermarks(cur, syms, success = true)
        }
      }
    }
    result.attempt("index_append") {
      spans("index_append", "ann") {
        val nv = spark.read.parquet(s"$batchDir/${file.replace("events_", "vecs_")}")
        nv.write.mode("append").parquet(vecs)
        increment += 1
        graft.ann.IvfPq.appendToIndex(spark, index, embeddings(nv), increment)
      }
    }
    if ((b + 1) % forgetEvery == 0 && (b + 1) / forgetEvery <= forgetSets.size)
      maintain(forgetSets((b + 1) / forgetEvery - 1))
  }

  /** The view's bucket generation directories (a driver-side listing). */
  private def viewGenerations(): Set[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$mv/data/bucket=*/gen=*")
    Option(p.getFileSystem(spark.sparkContext.hadoopConfiguration).globStatus(p))
      .map(_.map(_.getPath.toString).toSet).getOrElse(Set.empty)
  }

  /** Right-to-be-forgotten cycle: tombstone a few symbols, compact the
    * store, and drop a few vectors from the index. */
  private def maintain(forget: Seq[Long]): Unit = {
    import spark.implicits._
    result.attempt("forget") {
      spans("forget", "sources") {
        graft.sources.TableMaintenance.forget(spark, store, "user_id", forget.toDF("user_id"))
      }
    }
    forgotten ++= forget
    result.attempt("maintain") {
      spans("maintain", "sources") {
        graft.sources.TableMaintenance.maintain(
          spark, store, "user_id", 50000L, Seq("user_id", "day"), Seq("user_id"))
      }
    }
    result.attempt("index_delete") {
      spans("index_delete", "ann") {
        increment += 1
        val ids = spark.read.parquet(vecs).select("vec_id")
          .where(col("vec_id") % 97 === increment % 97).collect().map(_.getLong(0)).toSeq
        deleted ++= ids
        graft.ann.IvfPq.deleteFromIndex(spark, index, ids.toDF("vec_id"), increment)
      }
    }
  }

  /** The reads a client issues between batches; each is one latency sample. */
  private def reads(b: Int): Unit = {
    def timedRead(name: String, layer: String)(body: => Unit): Unit = {
      val t0 = spans.nowUs
      result.attempt(name)(spans(name, layer)(body))
      result.sample("read_s", (spans.nowUs - t0) / 1e6)
    }
    val sym = (b * 37L) % symbols
    timedRead("view_read", "etl") {
      graft.etl.MaterializedAgg.read(spark, mv, keys).write.format("noop").mode("overwrite").save()
    }
    timedRead("pruned_read", "sources") {
      val lo = sym.toDouble
      val hi = (sym + symbols / 8).toDouble
      graft.sources.TableMaintenance.readCurrentPruned(spark, store,
          Seq(("user_id", lo, hi)), col("user_id").between(lo, hi))
        .write.format("noop").mode("overwrite").save()
    }
    timedRead("point_lookup", "sources") {
      graft.sources.TableMaintenance.pointLookupCurrent(spark, store, "user_id", lit(sym))
        .write.format("noop").mode("overwrite").save()
    }
    // the stored-index probe is the costliest read (several Spark jobs per
    // probe); one after the last batch keeps a run short
    if (b == batches.size - 1) timedRead("index_probe", "ann") {
      val base = embeddings(spark.read.parquet(vecs))
      val q = base.where(col("vec_id") % 211 === b % 211)
        .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
      graft.ann.IvfPq.approxTopKStored(spark, index, base, q, k = 10, dim = 64)
        .write.format("noop").mode("overwrite").save()
    }
  }

  /** Store-level extras of the traced run. */
  def traceExtras(t: Tracer): Unit = {
    val loop = spans.all.find(_.name == "pass").get
    val maint = spans.all.filter(_.name == "maintain")
    val written = t.outputBytes(s => s.start >= loop.start && s.end <= loop.end)
    result.num("sources.write_amp", if (ingestedBytes > 0) written.toDouble / ingestedBytes else 0.0)
    result.num("sources.maintain_s", maint.map(spans.seconds).sum)
    result.num("sources.bytes_rewritten", t.outputBytes(s => maint.exists(_.id == s.id)).toDouble)
  }

  def indexBytes: Long = Harness.dirBytes(spark, index)

  /** Dumps for the output checks (outside the timed region): the final
    * view, the current store read, every current read restricted to the
    * forgotten keys, and the ids left in the index. */
  def dumpChecks(): Unit = {
    import spark.implicits._
    val out = s"$work/checks"
    graft.etl.MaterializedAgg.read(spark, mv, keys).orderBy(keys.map(col): _*)
      .write.parquet(s"$out/view")
    graft.sources.TableMaintenance.readCurrent(spark, store).write.parquet(s"$out/store")
    val gone = forgotten.toSeq
    val hits = gone.map { s =>
      graft.sources.TableMaintenance.pointLookupCurrent(spark, store, "user_id", lit(s)).count() +
        graft.sources.TableMaintenance.readCurrentPruned(spark, store,
          Seq(("user_id", s.toDouble, s.toDouble)), col("user_id") === s).count()
    }.sum
    result.num("check.forgotten_hits", hits.toDouble)
    gone.toDF("user_id").write.parquet(s"$out/forgotten")
    deleted.toSeq.toDF("vec_id").write.parquet(s"$out/deleted")
    graft.ann.IvfPq.storedIds(spark, index).write.parquet(s"$out/index_ids")
    result.num("bytes_stored", Seq(store, mv, wm, index, vecs).map(Harness.dirBytes(spark, _)).sum.toDouble)
    result.num("bytes_ingested", (Files.size(Paths.get(s"$input/events.parquet")) +
      Files.size(Paths.get(s"$input/embeddings.parquet")) +
      batches.map(f => Files.size(Paths.get(s"$batchDir/$f")) +
        Files.size(Paths.get(s"$batchDir/${f.replace("events_", "vecs_")}"))).sum).toDouble)
  }
}

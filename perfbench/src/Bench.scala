package perfbench

import java.io.{File, FileInputStream}
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.storage.StorageLevel

import graft.{Engine, GraftFunctions, SparkEntry, Tables}
import graft.operators.{Dedup, Similarity}
import graft.queries.QShared
import graft.sources.{AvroIO, Compaction, ParquetIO}
import graft.streaming.Streams

/** The measured JVM of the benchmark (driven by perfbench/run.py).
  *
  * One client on `local[cores]` runs the workload's op mix in whole
  * passes, back to back, and times each op from outside the program's
  * API.  Set-up (session, table registration, layouts) and one warm-up
  * pass, which also writes every query-shaped op's output for run.py to
  * compare with the expected answers, come first; then timed passes
  * until `seconds` have elapsed.
  *
  * With trace=1 the timed passes run traced: spans around every call
  * into the program's layers, Spark jobs tied to ops through the job
  * group, task metrics from a SparkListener and micro-batch times from a
  * StreamingQueryListener.  Spans stay in memory and are written to
  * spans.jsonl at exit; run.py derives the per-layer metrics from them.
  *
  * Usage: Bench <plan.properties>
  */
object Bench {

  // ------------------------------------------------------------ tracing

  final class Tracer {
    var on = false
    private val t0Ms = System.currentTimeMillis().toDouble
    private val t0Ns = System.nanoTime()
    private var next = 1L
    private var stack = List.empty[Long]
    private[perfbench] val spans = ArrayBuffer.empty[String]

    def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6
    def current: Long = stack.headOption.getOrElse(0L)

    private def newId(): Long = synchronized { val i = next; next += 1; i }

    private def add(id: Long, name: String, op: String, parent: Long, start: Double,
        end: Double, attrs: collection.Map[String, Any]): Unit = synchronized {
      spans += toJson(Map("id" -> id, "parent" -> parent, "op" -> op,
        "name" -> name, "t0" -> start, "t1" -> end) ++ attrs)
    }

    /** A span whose times were measured elsewhere (listener events). */
    def record(name: String, op: String, parent: Long, start: Double, end: Double,
        attrs: Map[String, Any]): Unit = add(newId(), name, op, parent, start, end, attrs)

    /** Time `body` as a child of the current span; `body` may add
      * attributes to the map it is given. */
    def span[T](name: String, op: String = "")(body: collection.mutable.Map[String, Any] => T): T = {
      val attrs = collection.mutable.Map.empty[String, Any]
      if (!on) return body(attrs)
      val id = newId()
      val parent = current
      stack = id :: stack
      val start = nowMs
      try body(attrs)
      finally {
        stack = stack.tail
        add(id, name, op, parent, start, nowMs, attrs)
      }
    }
  }

  /** Per-job task metrics, keyed by job id; jobs are tied to the op span
    * that was current when they were submitted (job group = span id). */
  final class JobListener(tracer: Tracer) extends SparkListener {
    final class Job(val group: String, val t0: Double) {
      var t1 = 0.0; var tasks = 0L; var runMs = 0L
      var inBytes = 0L; var inRecords = 0L; var shRead = 0L; var shWrite = 0L
      var spill = 0L
    }
    val jobs = collection.mutable.LinkedHashMap.empty[Int, Job]
    private val stageJob = collection.mutable.Map.empty[Int, Job]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val j = new Job(group, e.time.toDouble)
      jobs(e.jobId) = j
      e.stageIds.foreach(s => stageJob(s) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.t1 = e.time.toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      stageJob.get(e.stageId).filter(_ => m != null).foreach { j =>
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.inBytes += m.inputMetrics.bytesRead
        j.inRecords += m.inputMetrics.recordsRead
        j.shRead += m.shuffleReadMetrics.totalBytesRead
        j.shWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

    def emit(tracer: Tracer): Unit = synchronized {
      jobs.values.foreach { j =>
        tracer.record("spark.job", "", scala.util.Try(j.group.toLong).getOrElse(0L),
          j.t0, j.t1, Map("group" -> j.group, "tasks" -> j.tasks,
            "run_ms" -> j.runMs, "in_bytes" -> j.inBytes,
            "in_records" -> j.inRecords, "shuffle_read" -> j.shRead,
            "shuffle_write" -> j.shWrite, "spill" -> j.spill))
      }
    }
  }

  final class BatchListener(tracer: Tracer) extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ms = Option(p.durationMs.get("triggerExecution")).map(_.toDouble).getOrElse(0.0)
      val end = java.time.Instant.parse(p.timestamp).toEpochMilli + ms
      tracer.record("streaming.batch", "dedup_ingest", 0L, end - ms, end,
        Map("batch" -> p.batchId))
    }
  }

  // --------------------------------------------------------------- json

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def toJson(m: collection.Map[String, Any]): String = mapper.writeValueAsString(m)

  // ----------------------------------------------------------- helpers

  /** Order-independent row digest "rows:hash" of a DataFrame's output,
    * summed over xxhash64 of each row's UnsafeRow bytes. */
  def digestOf(df: DataFrame): String = {
    val schema = df.schema
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L
      var h = 0L
      it.foreach { r =>
        val u = proj(r)
        n += 1
        h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
      }
      Iterator((n, h))
    }.collect()
    s"${parts.map(_._1).sum}:${parts.map(_._2).sum}"
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete()
  }

  def copyTree(src: File, dst: File): Unit = {
    if (src.isDirectory) {
      dst.mkdirs()
      src.listFiles().foreach(f => copyTree(f, new File(dst, f.getName)))
    } else Files.copy(src.toPath, dst.toPath)
  }

  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)

  def liSum(df: DataFrame): Seq[Long] = {
    val r = df.agg(count(lit(1)), sum(col("l_orderkey")), sum(col("l_linenumber")),
      sum(round(col("l_extendedprice") * 100).cast("long"))).head()
    Seq(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  // --------------------------------------------------------------- main

  def main(args: Array[String]): Unit = {
    val plan = new java.util.Properties()
    val in = new FileInputStream(args(0))
    try plan.load(in) finally in.close()
    def p(k: String): String = Option(plan.getProperty(k))
      .getOrElse(throw new IllegalArgumentException(s"plan lacks $k"))
    new Run(p).main()
  }

  final class Run(p: String => String) {
    val workload = p("workload")
    val data = p("data")
    val work = new File(p("work"))
    val out = new File(p("out"))
    val traceRun = p("trace") == "1"
    val seconds = p("seconds").toDouble
    val cores = p("cores").toInt
    val ops: Seq[(String, String)] = p("ops").split(",").toSeq.map { s =>
      val Array(n, k) = s.split(":"); (n, k)
    }
    val tracer = new Tracer
    val events = ArrayBuffer.empty[String]
    var spark: SparkSession = _
    val opInputs = new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()
    val seq = new java.util.concurrent.atomic.AtomicInteger()

    /** Seconds spent inside `time { }` during the current op. */
    var opTime = 0.0
    def time[T](body: => T): T = {
      val t = System.nanoTime()
      try body finally opTime += (System.nanoTime() - t) / 1e9
    }

    def fresh(name: String): String = {
      val f = new File(work, s"$name-${seq.incrementAndGet()}")
      deleteTree(f)
      f.getPath
    }

    def table(name: String): DataFrame = Tables(spark, data, name)

    def event(kind: String, fields: Map[String, Any]): Unit = events.synchronized {
      events += toJson(Map("event" -> kind) ++ fields)
    }

    /** `f` over `xs` on `cores` threads, results in order; set-up and
      * warm-up only, never a timed pass. */
    def parallel[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
      try xs.map(x => pool.submit(new java.util.concurrent.Callable[B] { def call(): B = f(x) }))
        .map(_.get())
      finally pool.shutdown()
    }

    // ---------------------------------------------------------- set-up

    val dataTables: Seq[String] =
      Tables.names.filter(t => new File(s"$data/$t.parquet").exists())

    var bucketed: Map[String, DataFrame] = Map.empty
    var bloomCopy = ""

    /** The warehouse's on-disk layouts: orderkey-bucketed orders and
      * lineitem through the program's versioned layout primitive, and a
      * lineitem copy with an l_orderkey bloom filter for point lookups. */
    def buildLayouts(): Unit = {
      val dir = new File(work, "layouts")
      val nb = QShared.dirBuckets(data)
      bloomCopy = s"$dir/lineitem_bloom"
      val built = parallel(Seq("orders" -> "o_orderkey", "lineitem" -> "l_orderkey", "" -> "")) {
        case ("", _) =>
          // range-partitioned on the key, so each file's bloom filter
          // covers one key range and a lookup can skip the others;
          // dictionary encoding off, since parquet-mr writes no bloom
          // filter for a fully dictionary-encoded column chunk
          ParquetIO.write(table("lineitem").repartitionByRange(8, col("l_orderkey")), bloomCopy,
            bloomFilterCols = Seq("l_orderkey"), bloomNdv = 200000L,
            extraOptions = Map("parquet.enable.dictionary" -> "false"))
          None
        case (name, key) =>
          val path = s"$dir/bucketed_$name"
          val tbl = s"perfbench_bkt_$name"
          Some(name -> QShared.layout(spark, tbl, path, Seq(new File(s"$data/$name.parquet")),
            ddl = table(name).schema.toDDL,
            clusterSpec = s"CLUSTERED BY ($key) SORTED BY ($key) INTO $nb BUCKETS") {
            table(name).repartition(nb, col(key)).write.mode("overwrite")
              .bucketBy(nb, key).sortBy(key).option("path", path).saveAsTable(tbl)
          })
      }
      bucketed = built.flatten.toMap
    }

    def setup(): Unit = {
      spark = tracer.span("engine.session_start") { _ =>
        Engine.session(s"local[$cores]", cores)
      }
      tracer.span("engine.table_register") { _ =>
        parallel(dataTables)(t => table(t).schema)
      }
      if (workload == "warehouse_scan") tracer.span("engine.layout_build") { _ =>
        buildLayouts()
      }
    }

    // ------------------------------------------------------------- ops

    def queryOf(op: String, kind: String): DataFrame = kind match {
      case "qdef" => SparkEntry.queries(op)(spark, data)
      case "range_scan" => shipWindow("range_lo_day", "range_hi_day")
      case "point_lookup" =>
        ParquetIO.readPointLookup(spark, bloomCopy, "l_orderkey", p("lookup_key").toLong)
      case "bucketed_join" =>
        bucketed("orders").join(bucketed("lineitem"), col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("cnt"),
            QShared.gridSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .cast("double").as("revenue"))
          .orderBy(col("o_orderpriority").asc_nulls_first)
    }

    /** lineitem rows shipped in [day `lo`, day `hi`), days given by plan keys. */
    def shipWindow(lo: String, hi: String): DataFrame = {
      def day(k: String) = lit(java.time.LocalDate.ofEpochDay(p(k).toLong).atStartOfDay())
      table("lineitem").filter(col("l_shipdate") >= day(lo) && col("l_shipdate") < day(hi))
    }

    val queryKinds = Set("qdef", "range_scan", "point_lookup", "bucketed_join")

    /** Time a write, then (untimed) measure what landed. */
    def landed(op: String, dir: String)(write: => Unit): Map[String, Any] = {
      tracer.span("sources.write", op) { a =>
        val before = opTime
        time(write)
        val (files, bytes, _) = Compaction.dataFiles(spark, dir)
        a ++= Map("bytes" -> bytes, "files" -> files, "write_s" -> (opTime - before))
        Map("bytes" -> bytes, "files" -> files)
      }
    }

    /** Run one op; returns its result summary.  Only the time spent in
      * `time { }` counts as the op's latency. */
    def runOp(op: String, kind: String): Map[String, Any] = kind match {
      case k if queryKinds(k) =>
        val df = tracer.span("plans.plan", op) { _ =>
          time { val d = queryOf(op, kind); d.queryExecution.executedPlan; d }
        }
        Map("digest" -> tracer.span("queries.exec", op) { _ => time(digestOf(df)) })

      case "extract_write" =>
        val dir = fresh(op)
        val res = landed(op, dir)(ParquetIO.write(shipWindow("extract_lo_day", "extract_hi_day"), dir))
        opInputs.put(op, Seq("lineitem"))
        val sumv = liSum(spark.read.parquet(dir))
        deleteTree(new File(dir))
        res + ("sum" -> sumv)

      case "curated_write" =>
        val dir = fresh(op)
        val docs = table("documents")
        val kept = docs.groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
        val res = landed(op, dir)(ParquetIO.write(
          docs.join(kept, Seq("doc_id", "text"), "left_semi"), dir))
        opInputs.put(op, Seq("documents"))
        val r = spark.read.parquet(dir)
          .agg(count(lit(1)), sum(col("doc_id")), sum(col("n_chars"))).head()
        deleteTree(new File(dir))
        res + ("sum" -> Seq(r.getLong(0), r.getLong(1), r.getLong(2), 0L))

      case "avro_to_parquet" =>
        val dir = fresh(op)
        val res = landed(op, dir)(ParquetIO.write(
          AvroIO.readDistributed(spark, s"$data/avro_orders/*.avro"), dir))
        opInputs.put(op, Seq("avro_orders"))
        val r = spark.read.parquet(dir).agg(count(lit(1)), sum(col("o_orderkey")),
          sum(round(col("o_totalprice") * 100).cast("long"))).head()
        deleteTree(new File(dir))
        res + ("sum" -> Seq(r.getLong(0), r.getLong(1), r.getLong(2), 0L))

      case "compact" =>
        val dir = fresh(op)
        var stats: Compaction.CompactionStats = null
        val res = landed(op, dir) {
          stats = tracer.span("sources.compact", op) { a =>
            val s = Compaction.compact(spark, s"$data/small_files", dir,
              p("compact_target_bytes").toLong)
            a ++= Map("files_in" -> s.nFilesBefore, "files_out" -> s.nFilesAfter)
            s
          }
        }
        opInputs.put(op, Seq("small_files"))
        val sumv = liSum(spark.read.parquet(dir))
        deleteTree(new File(dir))
        res ++ Map("sum" -> sumv, "files_in" -> stats.nFilesBefore,
          "files_out" -> stats.nFilesAfter)

      case "dedup_ingest" =>
        val hist = fresh("history")
        copyTree(new File(s"$data/history"), new File(hist))
        val before = Compaction.dataFiles(spark, hist)._2
        val ckpt = fresh("checkpoint")
        val schema = spark.read.parquet(s"$data/history").schema
        val res = landed(op, hist) {
          tracer.span("streaming.ingest", op) { _ =>
            val q = Streams.dedupIngest(
              spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
                .parquet(s"$data/stream"), hist, ckpt)
            try q.processAllAvailable() finally q.stop()
          }
        }
        opInputs.put(op, Seq("stream"))
        val sidecar = Compaction.dataFiles(spark, hist + "_digests")
        val r = spark.read.parquet(hist).agg(count(lit(1)), countDistinct(col("text")),
          sum(length(col("text")))).head()
        Seq(hist, hist + "_digests", ckpt).foreach(d => deleteTree(new File(d)))
        res ++ Map(
          "bytes" -> (res("bytes").asInstanceOf[Long] - before + sidecar._2),
          "files" -> (res("files").asInstanceOf[Int] + sidecar._1),
          "sum" -> Seq(r.getLong(0), r.getLong(1), r.getLong(2), 0L))

      case "legacy_date_read" =>
        opInputs.put(op, Seq("legacy_dates"))
        val r = tracer.span("queries.exec", op) { _ =>
          time {
            ParquetIO.readCorruptDateAware(spark, s"$data/legacy_dates")
              .agg(count(lit(1)), sum(datediff(col("d"), lit("1970-01-01")))).head()
          }
        }
        Map("sum" -> Seq(r.getLong(0), r.getLong(1), 0L, 0L))
    }

    var jobs: JobListener = _

    def execute(op: String, kind: String, pass: Int, timed: Boolean): Unit = {
      opTime = 0.0
      val start = tracer.nowMs
      val sc = spark.sparkContext
      val res = tracer.span("op", op) { a =>
        a ++= Map("pass" -> pass)
        if (tracer.on) sc.setJobGroup(tracer.current.toString, op, interruptOnCancel = false)
        try Right(runOp(op, kind))
        catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
        finally if (tracer.on) sc.clearJobGroup()
      }
      if (timed) event("op", Map("op" -> op, "pass" -> pass,
        "t0" -> start, "dur" -> opTime,
        "err" -> res.left.toOption.map(_.take(300)),
        "res" -> res.getOrElse(Map.empty)))
      else res.left.foreach(e => System.err.println(s"[perfbench] warm-up $op: $e"))
    }

    // ------------------------------------------------------ trace extras

    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

    def noopSeconds(df: DataFrame): Double = median((0 until 3).map { _ =>
      val t = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t) / 1e9
    })

    /** Layer numbers that need their own measurement: the recall of the
      * approximate operators against their exact twins, each native
      * expression's rows/s net of its base projection, the Avro decode
      * alone, and the point lookup's file pruning. */
    def traceExtras(): Unit = workload match {
      case "llm_curation" =>
        val docs = table("documents").select(col("doc_id"), col("text"))
        val exact = Dedup.jaccardPairs(docs, "doc_id", "text", minJpm = 800)
          .select(col("d1"), col("d2"))
        val lsh = Dedup.minHashLshPairs(docs, "doc_id", "text").select(col("d1"), col("d2"))
        val nExact = exact.count()
        val lshRecall = if (nExact == 0) 1.0
          else exact.join(lsh, Seq("d1", "d2")).count().toDouble / nExact
        tracer.span("operators.lsh_recall") { a =>
          a ++= Map("recall" -> lshRecall, "exact_pairs" -> nExact) }

        val emb = table("embeddings")
        val q = emb.filter(col("vec_id") < 50)
        val brute = Similarity.bruteForceTopK(q, emb, 5, "vec_id", "embedding")
          .select(col("q_id"), col("n_id"))
        val ivf = Similarity.ivfTopK(q, emb, 5, 16, 4, "vec_id", "embedding")
          .select(col("q_id"), col("n_id"))
        val nBrute = brute.count()
        val annRecall = brute.join(ivf, Seq("q_id", "n_id")).count().toDouble / nBrute
        tracer.span("operators.ann_recall") { a => a ++= Map("recall" -> annRecall) }

        // inputs widened by a cross join so each kernel's share of the
        // projection is well above timer noise
        def widen(df: DataFrame, reps: Int) =
          df.crossJoin(spark.range(reps).select(col("id").as("rep")))
        val wide = widen(docs, 25)
        val text = col("text")
        val shingles = GraftFunctions.shingleHashesNative(spark, text)
        val vwide = widen(emb, 500)
        val probe = lit(Array.tabulate(64)(i => math.sin(i + 1.0)))
        val rowsDocs = wide.count().toDouble
        val rowsVecs = vwide.count().toDouble
        val scanDocs = noopSeconds(wide.select(text))
        val shingleS = noopSeconds(wide.select(shingles.as("h")))
        val kernels = Seq(
          ("graft_shingle_hashes", rowsDocs, shingleS, scanDocs),
          ("graft_minhash", rowsDocs,
            noopSeconds(wide.select(GraftFunctions.minhashNative(spark, shingles, 64).as("m"))),
            shingleS),
          ("graft_langid", rowsDocs,
            noopSeconds(wide.select(GraftFunctions.langIdNative(spark, text).as("l"))), scanDocs),
          ("graft_cosine", rowsVecs,
            noopSeconds(vwide.select(GraftFunctions.cosineNative(spark, col("embedding"), probe)
              .as("c"))), noopSeconds(vwide.select(col("embedding")))))
        kernels.foreach { case (expr, rows, withExpr, base) =>
          tracer.span("functions.kernel") { a =>
            a ++= Map("expr" -> expr, "rows" -> rows, "expr_s" -> withExpr, "base_s" -> base,
              "rows_per_s" -> rows / math.max(withExpr - base, 1e-3))
          }
        }

      case "warehouse_scan" =>
        val s = noopSeconds(AvroIO.readDistributed(spark, s"$data/avro_orders/*.avro"))
        tracer.span("sources.avro_decode") { a => a ++= Map("seconds" -> s) }
        val opened = ParquetIO.readPointLookup(spark, bloomCopy, "l_orderkey",
          p("lookup_key").toLong).inputFiles.length
        val total = graft.sources.ParquetMeta.partFiles(bloomCopy).size
        tracer.span("sources.point_lookup") { a =>
          a ++= Map("files_opened" -> opened, "files_total" -> total) }
    }

    // ------------------------------------------------------------ main

    def gcSeconds: Double = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

    def main(): Unit = {
      tracer.on = traceRun
      setup()
      tracer.on = false
      val sc = spark.sparkContext
      // the warm-up pass doubles as the check capture: each query-shaped
      // op runs once with its output persisted and digested like the
      // timed executions; the outputs are then written out for run.py to
      // compare with the expected answers, and the writes' time is
      // reported so set-up time can leave it out.  Ops warm up
      // concurrently; the timed passes run one op at a time.
      val warmT = System.nanoTime()
      val captured = parallel(ops) {
        case (op, kind) if queryKinds(kind) =>
          try {
            val df = queryOf(op, kind)
            opInputs.put(op, df.inputFiles.toSeq)
            df.persist(StorageLevel.MEMORY_ONLY)
            val view = df.alias("checked")
            Some((op, df, view, digestOf(view)))
          } catch {
            case e: Throwable => event("check", Map("op" -> op, "err" -> String.valueOf(e))); None
          }
        case (op, kind) => execute(op, kind, -1, timed = false); None
      }.flatten
      val captureT = System.nanoTime()
      captured.foreach { case (op, df, view, digest) =>
        view.coalesce(1).write.mode("overwrite").parquet(s"$out/check/$op")
        df.unpersist(blocking = true)
        event("check", Map("op" -> op, "digest" -> digest))
      }
      val captureS = (System.nanoTime() - captureT) / 1e9
      event("warmup", Map("seconds" -> (System.nanoTime() - warmT) / 1e9,
        "capture_s" -> captureS))

      if (traceRun) {
        jobs = new JobListener(tracer)
        sc.addSparkListener(jobs)
        spark.streams.addListener(new BatchListener(tracer))
      }
      val firstMs = tracer.nowMs
      event("timed_start", Map("t" -> firstMs))
      // whole passes, a new one only while it can end within `seconds`, so
      // every run's samples hold each op of the mix equally often
      tracer.on = traceRun
      var pass = 0
      var lastMs = 0.0
      while (pass == 0 || tracer.nowMs - firstMs + lastMs <= seconds * 1000) {
        val t = tracer.nowMs
        val gc = gcSeconds
        ops.foreach { case (op, kind) => execute(op, kind, pass, timed = true) }
        lastMs = tracer.nowMs - t
        event("pass", Map("pass" -> pass, "t0" -> t, "t1" -> tracer.nowMs,
          "gc_s" -> (gcSeconds - gc)))
        pass += 1
      }
      tracer.on = false
      event("timed_end", Map("t" -> tracer.nowMs, "peak_rss_mb" -> vmHwmMb()))

      if (traceRun) {
        tracer.on = true
        traceExtras()
        tracer.on = false
      }
      opInputs.asScala.foreach { case (op, files) =>
        event("inputs", Map("op" -> op, "inputs" -> files)) }
      spark.stop() // drains the listener bus before the job spans are emitted
      if (traceRun) jobs.emit(tracer)
      out.mkdirs()
      Files.write(Paths.get(s"$out/events.jsonl"), events.asJava)
      Files.write(Paths.get(s"$out/spans.jsonl"), tracer.spans.asJava)
    }
  }
}

package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** The benchmark's JVM side. It drives the engine only through its public
  * entry points (SparkEntry.queries, Catalog.ensure and the streaming
  * functions), one client thread, closed loop: a cold pass over the
  * workload's ops in a fresh session, then a fixed number of warm passes,
  * continued until `--seconds` have passed. Every op's output is
  * fingerprinted outside its timed span. Raw samples go to `--out` as
  * JSON; perfbench/run.py reduces them.
  *
  * Usage: Harness --workload W --seed N --seconds S --trace 0|1
  *          --cores C --corpus DIR --tmp DIR --out FILE
  *          [--replay DIR] [--setup-only 1] [--prepare-replay DIR]
  *        Harness --dump-oracle FILE
  */
object Harness {
  val QSerial = "q-serial"
  val StreamReplay = "stream-replay"

  /** Two work-dominated extension ops that run beside the queries:
    * x284 carries hand-placed REPARTITION(hintPar) hints and its md5
    * prefix is fused into a `functions` expression by a `plans` rule;
    * x161 (the fused one-pass profiler in `operators`, no hint) is the
    * control that a change to exchange width should not move. */
  val XOps = Seq("x284_negative_sampling", "x161_column_profile_native")

  /** Every sixth of the declared log-analytics queries q01..q46, plus
    * the last: nine of them, in 11 ops a pass with the extension ops. */
  def qOps: Seq[String] = {
    val all = graft.SparkEntry.queries.keys.filter(_.startsWith("q")).toSeq.sorted
    all.zipWithIndex.collect { case (n, i) if i % 6 == 0 || i == all.size - 1 => n }
  }

  /** Warm passes per run on a 4-core host: about 24 s of q-serial, whose
    * many short ops need the samples, and 8 s of stream-replay. */
  val warmPasses = Map(QSerial -> 4, StreamReplay -> 1)

  final case class Op(name: String, run: Int => (() => (Long, String)))
  final case class OpRec(name: String, wallMs: Double, rows: Long, hash: String,
                         error: String, session: Seq[(String, Double)])
  final case class PassRec(kind: String, traced: Boolean, wallMs: Double, ops: Seq[OpRec],
                           batchMs: Seq[Double])

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    opt.get("--dump-oracle").foreach { f => dumpOracle(f); return }
    val workload = opt("--workload")
    require(Seq(QSerial, StreamReplay).contains(workload), s"unknown workload $workload")
    val seed = opt("--seed").toLong
    val seconds = opt("--seconds").toDouble
    val trace = opt("--trace") == "1"
    val cores = opt("--cores").toInt
    val corpus = opt("--corpus")
    val tmp = opt("--tmp")

    // hintPar reads SPARK_GRAFT_CPUS once when Queries loads; a width that
    // disagrees with the master would silently change every hinted plan
    val envCpus = sys.env.get("SPARK_GRAFT_CPUS")
    if (!envCpus.contains(cores.toString)) {
      System.err.println(s"[perfbench] SPARK_GRAFT_CPUS=${envCpus.getOrElse("<unset>")} " +
        s"disagrees with master local[$cores]")
      sys.exit(2)
    }

    // the deployment build; perfbench/README.md lists the same confs
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // stateful streaming ops keep one state store per shuffle partition
      .config("spark.sql.shuffle.partitions", cores.toString)
      // everything the session writes stays inside the run's tmp dir
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = uptimeMs
    graft.Catalog.planCacheEnabled = false
    graft.Catalog.ensure(spark, corpus)
    val ensureMs = uptimeMs
    opt.get("--prepare-replay").foreach { d => StreamOps.prepare(spark, corpus, d); spark.stop(); return }

    val spans = new Spans
    val progress = new ProgressListener
    val cdcApplyNs = new AtomicLong(0)
    val cdcStats = ArrayBuffer.empty[(Double, Double, Double)] // (input b, table b, files)
    val ops: Seq[Op] = workload match {
      case QSerial => (qOps ++ XOps).map(batchOp(spark, corpus, spans, _))
      case StreamReplay =>
        spark.streams.addListener(progress)
        new StreamOps(spark, corpus, opt("--replay"), tmp, spans, cdcApplyNs, cdcStats).ops
    }
    System.err.println(f"[perfbench] set-up: session ready at $sessionMs%.0f ms, ensure done at " +
      f"$ensureMs%.0f ms, ops ready at $uptimeMs%.0f ms after JVM start")
    println("READY")
    Console.out.flush()
    // a set-up-only start times the same set-up again and stops there
    if (opt.get("--setup-only").contains("1")) Runtime.getRuntime.halt(0)

    val exec = new ExecListener(spans)
    val plan = new PlanListener(spans)
    var codegenCount = 0L; var codegenMs = 0.0; var jvmGcMs = 0.0
    def gcMs: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.toDouble).sum
    // the histogram keeps every sample until its reservoir (1028) fills;
    // past that only the mean is exact enough to scale by the count
    def compileStats: (Long, Double) = {
      val h = CodegenMetrics.METRIC_COMPILATION_TIME
      val snap = h.getSnapshot
      (h.getCount, if (h.getCount <= 1028) snap.getValues.map(_.toDouble).sum
                   else snap.getMean * h.getCount)
    }
    val localDir = new File(tmp, "spark-local")

    def sessionProbe(): Seq[(String, Double)] = {
      val storage = spark.sparkContext.getExecutorMemoryStatus.values
        .map { case (max, free) => (max - free).toDouble }.sum
      Seq("storage_mem_b" -> storage, "local_dir_b" -> dirBytes(localDir),
        "heap_used_b" -> ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed.toDouble)
    }

    def runPass(kind: String, index: Int, traced: Boolean): PassRec = {
      spans.on = traced
      progress.traced = traced
      if (traced) {
        spark.sparkContext.addSparkListener(exec)
        spark.listenerManager.register(plan)
      }
      val (c0, ms0) = compileStats
      val gc0 = gcMs
      val order = new scala.util.Random(seed * 1000003L + index).shuffle(ops)
      val passId = spans.nextId()
      val recs = ArrayBuffer.empty[OpRec]
      var untimedNs = 0L
      val t0 = System.nanoTime()
      val passStartUs = spans.nowUs
      order.foreach { op =>
        val opId = spans.nextId()
        spark.sparkContext.setJobGroup(s"op-$opId", op.name, interruptOnCancel = false)
        val s0 = System.nanoTime()
        val (check, err) =
          try (spans.timed(passId, "op", op.name, opId)(op.run(opId)), "")
          catch { case e: Throwable =>
            System.err.println(s"[perfbench] ${op.name} failed: $e")
            (null, String.valueOf(e.getMessage).take(300))
          }
        val wall = (System.nanoTime() - s0) / 1e6
        val u0 = System.nanoTime()
        val (rows, hash) =
          if (check == null) (-1L, "")
          else try check() catch { case e: Throwable =>
            System.err.println(s"[perfbench] ${op.name} output unreadable: $e"); (-1L, "")
          }
        val session = if (traced) sessionProbe() else Nil
        untimedNs += System.nanoTime() - u0
        recs += OpRec(op.name, wall, rows, hash, err, session)
      }
      spark.sparkContext.clearJobGroup()
      val wallMs = (System.nanoTime() - t0 - untimedNs) / 1e6
      if (traced) spans.add(Span(passId, 0, "pass", s"$kind $index", passStartUs, spans.nowUs))
      org.apache.spark.BusDrain(spark.sparkContext)
      if (traced) {
        spark.sparkContext.removeSparkListener(exec)
        spark.listenerManager.unregister(plan)
        val (c1, ms1) = compileStats
        codegenCount += c1 - c0
        codegenMs += ms1 - ms0
        jvmGcMs += gcMs - gc0
      }
      PassRec(kind, traced, wallMs, recs.toList, progress.takeBatches())
    }

    val passes = ArrayBuffer.empty[PassRec]
    passes += runPass("cold", 0, trace)
    val warmStart = System.nanoTime()
    // A fixed number of warm passes, and more only if `seconds` have not
    // passed yet: the JIT keeps warming through these passes, so a
    // time-based count would measure a different point of the warm-up
    // curve on each run. The traced run traces warm passes in the order
    // off, on, on, off, ... so that the tracing overhead it reports is
    // measured in-run and is not confounded by that trend; it therefore
    // runs whole groups of four.
    val minWarm =
      if (trace) 4 * ((warmPasses(workload) + 3) / 4) else warmPasses(workload)
    var warm = 0
    while (warm < minWarm || (System.nanoTime() - warmStart) / 1e9 < seconds) {
      warm += 1
      passes += runPass("warm", warm, trace && warm % 4 >= 2)
    }

    // Heap the session still holds once every pass is done, measured
    // after the last timed pass so it changes no timing. A full collection
    // lets ContextCleaner see which shuffles and broadcasts are unreachable
    // and the next frees what it then removed, so collect until the heap
    // stops shrinking.
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    org.apache.spark.BusDrain(spark.sparkContext)
    def heapUsedB: Double = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed.toDouble
    var heapRetainedB = Double.MaxValue
    var shrank = true
    var collections = 0
    while (shrank && collections < 8) {
      System.gc()
      val used = heapUsedB
      shrank = used < heapRetainedB - 1e6
      heapRetainedB = math.min(heapRetainedB, used)
      collections += 1
      if (shrank) Thread.sleep(250)
    }

    val out = new Json
    out.obj {
      out.field("workload", workload); out.field("seed", seed); out.field("cpus", cores)
      out.field("trace", trace); out.field("warm_passes", minWarm)
      out.key("passes"); out.arr(passes.foreach { p =>
        out.obj {
          out.field("kind", p.kind); out.field("traced", p.traced); out.field("wall_ms", p.wallMs)
          out.key("batch_ms"); out.arr(p.batchMs.foreach(out.value))
          out.key("ops"); out.arr(p.ops.foreach { o =>
            out.obj {
              out.field("name", o.name); out.field("wall_ms", o.wallMs)
              out.field("rows", o.rows); out.field("hash", o.hash); out.field("error", o.error)
              o.session.foreach { case (k, v) => out.field(k, v) }
            }
          })
        }
      })
      progress.synchronized {
        out.key("stream"); out.obj {
          out.field("batches", progress.batches); out.field("rows_in", progress.rowsIn)
          out.field("state_rows", progress.stateRows); out.field("state_mem_b", progress.stateMemB)
          progress.phaseMs.foreach { case (k, v) => out.field(k + "_ms", v) }
        }
      }
      out.key("cdc"); out.obj {
        out.field("apply_ms", cdcApplyNs.get / 1e6)
        cdcStats.synchronized {
          out.field("input_b", cdcStats.map(_._1).sum); out.field("table_b", cdcStats.map(_._2).sum)
          out.field("files", cdcStats.map(_._3).sum); out.field("drains", cdcStats.size)
        }
      }
      out.field("codegen_compiles", codegenCount); out.field("codegen_ms", codegenMs)
      out.field("jvm_gc_ms", jvmGcMs)
      out.field("peak_rss_kb", vmHwmKb)
      out.field("heap_committed_b", heap.getCommitted.toDouble)
      out.field("heap_retained_b", heapRetainedB)
      out.key("spans"); out.arr(spans.all.foreach { s =>
        out.obj {
          out.field("id", s.id); out.field("parent", s.parent); out.field("kind", s.kind)
          out.field("name", s.name); out.field("start_us", s.startUs); out.field("end_us", s.endUs)
          s.attrs.foreach { case (k, v) => out.field(k, v) }
        }
      })
    }
    Files.write(Paths.get(opt("--out")), out.toString.getBytes("UTF-8"))
    // nothing is left to keep: run.py deletes the run's directory
    Runtime.getRuntime.halt(0)
  }

  /** A declared batch query: ensure, build the DataFrame, collect. */
  def batchOp(spark: SparkSession, dir: String, spans: Spans, name: String): Op = {
    val build = graft.SparkEntry.queries(name)
    Op(name, { opId =>
      spans.timed(opId, "ensure", "ensure")(graft.Catalog.ensure(spark, dir))
      val df = spans.timed(opId, "submit", name)(build(spark, dir))
      val rows = spans.timed(opId, "execute", name)(df.collect())
      () => Canon.fingerprint(df.schema, rows.toSeq)
    })
  }

  def dirBytes(f: File): Double =
    if (!f.exists()) 0.0
    else if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0.0)
    else f.length.toDouble

  def dirFiles(f: File): Double =
    if (!f.exists()) 0.0
    else if (f.isDirectory) Option(f.listFiles()).map(_.map(dirFiles).sum).getOrElse(0.0)
    else if (f.getName.endsWith(".parquet")) 1.0 else 0.0

  def uptimeMs: Double = ManagementFactory.getRuntimeMXBean.getUptime.toDouble

  def vmHwmKb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)

  def deleteTree(f: File): Unit = if (f.exists()) new scala.reflect.io.Directory(f).deleteRecursively()

  def dumpOracle(file: String): Unit = {
    val out = new Json
    val oracle = graft.SparkEntry.oracleSql
    out.obj((qOps ++ XOps).foreach(n => out.field(n, oracle(n))))
    Files.write(Paths.get(file), out.toString.getBytes("UTF-8"))
  }
}

/** The stream workload's inputs, written once per build by
  * `--prepare-replay`: events, and a change stream derived from `orders`
  * with colliding keys and tombstones, each in `Batches` single-file
  * slices. Slices are modification-time ordered, so a replay with
  * maxFilesPerTrigger 1 reads them in order. */
object StreamOps {
  val Batches = 2

  def prepare(spark: SparkSession, corpus: String, dir: String): Unit = {
    val events = graft.Catalog.load(spark, corpus, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    writeReplay(events, s"$dir/events", "event_id")
    val changes = graft.Catalog.load(spark, corpus, "orders").select(
      (col("o_orderkey") % 20000L).as("k"), col("o_totalprice").as("price"),
      col("o_orderstatus").as("status"), col("o_orderkey").as("seq"),
      (col("o_orderkey") % 97L === 0L).as("deleted"))
    writeReplay(changes, s"$dir/cdc", "seq")
  }

  private def writeReplay(df: DataFrame, dir: String, sliceCol: String): Unit = {
    Harness.deleteTree(new File(dir))
    new File(dir).mkdirs()
    val t0 = System.currentTimeMillis()
    (0 until Batches).foreach { i =>
      val part = s"$dir-tmp$i"
      df.where(pmod(col(sliceCol), lit(Batches.toLong)) === i).coalesce(1)
        .write.mode("overwrite").parquet(part)
      val file = new File(part).listFiles().find(_.getName.endsWith(".parquet")).get
      val dest = Paths.get(dir, s"b$i.parquet")
      Files.copy(file.toPath, dest, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dest, FileTime.fromMillis(t0 + i * 10000L))
      Harness.deleteTree(new File(part))
    }
  }
}

/** Three ops of the stream suite, each an AvailableNow replay of the
  * prepared single-file micro-batches from a fresh checkpoint: the
  * per-user state machine (funnel, mapGroupsWithState), the watermarked
  * 6-hour window counts (trending) and the copy-on-write CDC sink
  * (cdc_apply). Their batches fall into three groups of clearly different
  * cost: the second batch of funnel and trending, their first (which also
  * creates the state stores), and cdc_apply's. The median batch falls
  * inside the middle group and p90 inside the last, not on a boundary. */
final class StreamOps(spark: SparkSession, corpus: String, replay: String, tmp: String, spans: Spans,
                      cdcApplyNs: AtomicLong,
                      cdcStats: ArrayBuffer[(Double, Double, Double)]) {
  import Harness.{Op, deleteTree, dirBytes, dirFiles}
  private val base = s"$tmp/stream"
  private var seq = 0

  private val eventsDir = s"$replay/events"
  private val eventsSchema = spark.read.parquet(eventsDir).schema
  private val cdcDir = s"$replay/cdc"
  private val cdcSchema = spark.read.parquet(cdcDir).schema
  private val cdcInputB = dirBytes(new File(cdcDir))

  private def fileStream(dir: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet").parquet(dir)

  /** Drains `df` to a memory table; the check reads the table back. */
  private def toMemory(df: => DataFrame, mode: String): () => (Long, String) = {
    seq += 1
    val name = s"perfbench_$seq"
    df.writeStream.format("memory").queryName(name).outputMode(mode)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    () => {
      val t = spark.table(name)
      try Canon.fingerprint(t.schema, t.collect().toSeq) finally spark.catalog.dropTempView(name)
    }
  }

  private def op(name: String)(body: => (() => (Long, String))): Op =
    Op(name, { opId =>
      spans.timed(opId, "ensure", "ensure")(graft.Catalog.ensure(spark, corpus))
      spans.timed(opId, "execute", name)(body)
    })

  val ops: Seq[Op] = Seq(
    op("funnel")(toMemory(graft.streaming.EventStream
      .funnel(fileStream(eventsDir, eventsSchema)), "update")),
    op("trending")(toMemory(graft.streaming.EventStream
      .trendingCounts6h(fileStream(eventsDir, eventsSchema)), "update")),
    op("cdc_apply") {
      seq += 1
      val table = s"$base/cdc-table-$seq"
      deleteTree(new File(table))
      fileStream(cdcDir, cdcSchema).writeStream.trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, id: Long) =>
          val t0 = System.nanoTime()
          graft.streaming.CdcStream.applyBatch(spark, table, b, "k", txnId = Some(id.toString))
          if (spans.on) cdcApplyNs.addAndGet(System.nanoTime() - t0)
          ()
        }.start().awaitTermination()
      () => {
        val t = new File(table)
        if (spans.on) cdcStats.synchronized { cdcStats += ((cdcInputB, dirBytes(t), dirFiles(t))) }
        val df = graft.streaming.CdcStream.latest(spark, table).get
        try Canon.fingerprint(df.schema, df.collect().toSeq) finally deleteTree(t)
      }
    })
}

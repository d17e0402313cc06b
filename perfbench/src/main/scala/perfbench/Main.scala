package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ext.BoundedCache
import graft.queries.{Pack, QDef}

/** One benchmark run of one workload, in one JVM. Called by run.py, which
  * generates the inputs, checks the oracle results and prints the metrics.
  *
  * Closed loop, one client: each op is issued only after the previous one
  * has delivered its full result. Delivery is a `noop` write, which
  * evaluates every projected column of every row. Between two ops, and
  * outside the timed region, the retained frames are dropped and the heap
  * is collected, so no op is timed on a frame an earlier op left behind.
  *
  * Order of a run:
  *  1. set-up, five times: a new session plus the delivery of the probe op;
  *  2. warm-up: every op twice, untimed; on the first pass ops with
  *     oracle SQL write their result as parquet for the oracle check, on
  *     the second each op's live heap is read;
  *  3. the measured loop: whole passes over the ops, at least three, more
  *     while they fit in `seconds`. With `trace`, the listeners record
  *     the odd passes only; the layer numbers come from those, the busy
  *     times and the tracing overhead from the even passes after the first.
  *
  * Arguments: --data DIR --out DIR --ops FILE --probe OP --seconds S
  * --trace 0|1 --seed N. Writes DIR/record.json (per-op rows, set-up
  * times, digests, failures) and, when traced, DIR/spans.json. */
object Main {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val mem = ManagementFactory.getMemoryMXBean
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  /** The JIT compiler threads, found once: run.py starts the JVM with a
    * fixed set of them (-XX:-UseDynamicNumberOfCompilerThreads). */
  private val compilerThreads: Seq[Path] = {
    val tasks = Paths.get("/proc/self/task")
    if (!Files.isDirectory(tasks)) Nil
    else Files.list(tasks).iterator().asScala.toSeq.filter { t =>
      val comm = Files.readString(t.resolve("comm")).trim
      comm.startsWith("C1 CompilerThre") || comm.startsWith("C2 CompilerThre")
    }.map(_.resolve("stat"))
  }

  /** CPU seconds of the process less its JIT compiler threads (Linux
    * /proc, 100 ticks per second). Compilation still runs between passes
    * and is the noisiest share of the process's CPU time; the program's
    * threads and the GC stay in. */
  private def cpuS: Double = {
    val jitTicks = compilerThreads.map { st =>
      val f = Files.readString(st)
      val rest = f.substring(f.lastIndexOf(')') + 2).split(' ')
      rest(11).toLong + rest(12).toLong
    }.sum
    os.getProcessCpuTime / 1e9 - jitTicks / 100.0
  }
  private val cores = Runtime.getRuntime.availableProcessors

  final case class Run(op: String, pass: Int, traced: Boolean, wall: Double, construct: Double,
                       cpu: Double, gc: Double, rows: Long, digest: String, error: String,
                       layers: Map[String, Double])

  def session(tmp: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmp.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** An order-insensitive content digest of every row: xxhash64 over all
    * columns, folded as count, xor and a modular sum. Types xxhash64 does
    * not take are hashed through their string form. */
  private def digestColumn(df: DataFrame): Column = {
    def plain(t: DataType): Boolean = t match {
      case _: MapType | _: VariantType | _: CalendarIntervalType | _: NullType | _: ObjectType => false
      case ArrayType(e, _) => plain(e)
      case StructType(fs) => fs.forall(f => plain(f.dataType))
      case _ => true
    }
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name.replace("`", "``")}`")
      if (plain(f.dataType)) c else to_json(struct(c))
    }
    if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
  }

  /** Build and deliver one op. Construction (the query function) and the
    * delivered action are timed separately. */
  def deliver(spark: SparkSession, q: QDef, data: String, sink: Option[String],
              onWindow: (Long, Long, Long) => Unit = (_, _, _) => ()): Run = {
    val cpu0 = cpuS
    val gc0 = gcMs
    val m0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    var n1 = n0
    var m1 = m0
    var rows = -1L
    var digest = ""
    var error: String = null
    try {
      val df = q.fn(spark, data)
      n1 = System.nanoTime(); m1 = System.currentTimeMillis()
      val h = digestColumn(df)
      val obs = Observation()
      val observed = df.observe(obs, count(lit(1)).as("n"), bit_xor(h).as("x"),
        sum(pmod(h, lit(1000000007L))).as("s"))
      sink match {
        case Some(p) => observed.coalesce(1).write.mode("overwrite").parquet(p)
        case None => observed.write.format("noop").mode("overwrite").save()
      }
      val r = obs.get
      rows = r("n").asInstanceOf[Long]
      digest = s"$rows:${r("x")}:${r("s")}"
    } catch {
      case t: Throwable =>
        if (n1 == n0) { n1 = System.nanoTime(); m1 = System.currentTimeMillis() }
        error = s"${t.getClass.getName}: ${String.valueOf(t.getMessage).take(300)}"
    }
    val n2 = System.nanoTime()
    val m2 = System.currentTimeMillis()
    onWindow(m0, m1, m2)
    Run(q.name, -1, traced = false, (n2 - n0) / 1e9, (n1 - n0) / 1e9,
      cpuS - cpu0, (gcMs - gc0) / 1e3, rows, digest, error, Map.empty)
  }

  /** Between ops, untimed: drop every frame an op retained (the library's
    * bounded cache and the session's cache manager), then collect the heap,
    * so the next op is not charged for freeing them. */
  def isolate(spark: SparkSession): Unit = {
    drop(spark)
    System.gc()
  }

  /** Drop every frame an op retained, without collecting: between the
    * untimed warm-up deliveries, where nothing is charged for the freeing. */
  def drop(spark: SparkSession): Unit = {
    BoundedCache.clear()
    spark.catalog.clearCache()
  }

  private def heapMb(): Double = { System.gc(); mem.getHeapMemoryUsage.getUsed / 1048576.0 }

  /** Files (and their bytes) under `root` modified at or after `sinceMs`,
    * leaving out Spark's own shuffle and block files (`spark-local`). */
  private def filesSince(root: Path, sinceMs: Long): (Long, Long) = {
    var n, b = 0L
    val local = root.resolve("spark-local")
    if (Files.isDirectory(root)) {
      val it = Files.walk(root)
      try it.iterator().asScala.foreach { p =>
        try {
          if (!p.startsWith(local) && Files.isRegularFile(p) && Files.getLastModifiedTime(p).toMillis >= sinceMs) {
            n += 1; b += Files.size(p)
          }
        } catch { case _: java.io.IOException => () }
      } finally it.close()
    }
    (n, b)
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val data = a("data")
    val out = Paths.get(a("out"))
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val ops = Files.readAllLines(Paths.get(a("ops"))).asScala.map(_.trim).filter(_.nonEmpty).toSeq
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val declared = ops.filter(Pack.byName.contains).map(Pack.byName)
    val undeclared = ops.filterNot(Pack.byName.contains)
    // an undeclared probe is reported with the other undeclared ops
    val probe = Pack.byName.getOrElse(a("probe"), declared.head)

    // wall time of each phase of the run, for the record
    val phases = scala.collection.mutable.LinkedHashMap[String, Double]()
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases(name) = (now - mark) / 1e9
      mark = now
    }

    // 1. set-up, five times; the median is the reported set-up time
    var spark: SparkSession = null
    val setups = (1 to 5).map { _ =>
      if (spark != null) {
        BoundedCache.clear()
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = session(tmp)
      val r = deliver(spark, probe, data, None)
      if (r.error != null) System.err.println(s"[perfbench] probe ${probe.name}: ${r.error}")
      isolate(spark)
      (System.nanoTime() - t0) / 1e9
    }

    // 2. warm-up, untimed; results of ops with oracle SQL go to out/verify
    // for the oracle check
    phase("setup")
    val verify = out.resolve("verify")
    val warm = declared.map { q =>
      drop(spark)
      deliver(spark, q, data, q.oracle.map(_ => verify.resolve(q.name).toString))
    }
    val oracle = declared.flatMap(q => q.oracle.map(q.name -> _)).toMap
    Files.writeString(verify.resolve("oracle_sql.json"), Json.render(oracle))

    phase("warm_up_1")
    // the box-speed probe the repo's bench records carry, for context only
    val calib = {
      val t0 = System.nanoTime()
      spark.range(1L << 30).selectExpr("sum(xxhash64(id) % 1000)").head()
      (System.nanoTime() - t0) / 1e9
    }
    val parsers = if (trace) Some(Parsers.run(a("seed").toLong)) else None
    phase("calib_parsers")

    // a second untimed pass: an op's code is still compiling over its
    // first few deliveries, and this pass moves the timed ones closer to
    // steady state. It also reads each op's live heap, after a GC that
    // still finds the op's retained frames; the timed passes leave that
    // extra collection out.
    val liveHeap = declared.map { q =>
      deliver(spark, q, data, None)
      val mb = heapMb()
      drop(spark)
      q.name -> mb
    }.toMap

    phase("warm_up_2")
    // 3. the measured loop
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val spans = Seq.newBuilder[Span]
    var ids = 0L
    val nextId = () => { ids += 1; ids }
    val runs = Seq.newBuilder[Run]
    // Whole passes only, so every op has as many samples as every other:
    // at least three, since an op's first timed delivery can still be
    // warming up and the median of three drops it, and a further one only
    // if it fits in `seconds` at the last pass's pace. A traced run records
    // the odd passes and leaves the even ones untraced, so the tracing
    // overhead compares warmed passes on both sides; it runs at least four.
    val minPasses = if (trace) 4 else 3
    val start = System.nanoTime()
    var pass = 0
    var last = 0L
    isolate(spark)
    while (pass < minPasses || System.nanoTime() - start + last <= (seconds * 1e9).toLong) {
      val p0 = System.nanoTime()
      val traced = trace && pass % 2 == 1
      declared.foreach { q =>
        val ev = if (traced) Some(new OpEvents) else None
        tracer.foreach(_.begin(ev))
        var window = (0L, 0L, 0L)
        val r = deliver(spark, q, data, None, (t0, t1, t2) => window = (t0, t1, t2))
        val layers = tracer.zip(ev).map { case (t, e) =>
          t.drain()
          t.begin(None)
          val opId = nextId()
          val (m, s) = Tracer.summarize(e, opId, q.name, window._1, window._2, window._3, nextId, cores)
          spans ++= s
          val info = spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
          val (files, bytes) = filesSince(tmp, window._1)
          m ++ Map(
            "queries.construct_s" -> r.construct,
            "driver.gap_s" -> (r.wall - r.construct - m("spark.jobs_active_s")),
            "ext.cached_frames" -> info.length.toDouble,
            "ext.cached_bytes" -> info.map(i => i.memSize + i.diskSize).sum.toDouble,
            "io.files_created" -> files.toDouble,
            "io.bytes_on_disk" -> bytes.toDouble,
            "jvm.gc_s" -> r.gc,
            "op_id" -> opId.toDouble)
        }.getOrElse(Map.empty)
        runs += r.copy(pass = pass, traced = traced, layers = layers)
        isolate(spark)
      }
      last = System.nanoTime() - p0
      pass += 1
    }

    phase("measured")
    val all = runs.result()
    val spanSeq = spans.result()
    if (trace) {
      val self = Tracer.selfTimes(spanSeq)
      Files.writeString(out.resolve("spans.json"), spanSeq.map { s =>
        Json.render(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
          "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> self(s.id)))
      }.mkString("[\n", ",\n", "\n]\n"))
    }
    def row(r: Run) = Map("op" -> r.op, "pass" -> r.pass, "traced" -> r.traced, "wall_s" -> r.wall,
      "construct_s" -> r.construct, "cpu_s" -> r.cpu, "gc_s" -> r.gc, "rows" -> r.rows,
      "digest" -> r.digest, "error" -> r.error, "layers" -> r.layers)
    val record = Map(
      "cores" -> cores,
      "setup_s" -> setups,
      "calib_s" -> calib,
      "phases_s" -> phases.toMap,
      "live_heap_mb" -> liveHeap,
      "undeclared" -> undeclared,
      "warm" -> warm.map(row),
      "runs" -> all.map(row),
      "parsers" -> parsers.map(p => Map(
        "parsers.pdf_extract_us" -> p.pdfUs, "parsers.ticket_parse_us" -> p.ticketUs,
        "parsers.mail_parse_us" -> p.mailUs, "parsers.reject_ratio" -> p.rejectRatio,
        "expected_reject_ratio" -> p.expectedRejectRatio, "errors" -> p.errors)).orNull)
    Files.writeString(out.resolve("record.json"), Json.render(record))
    spark.stop()
  }
}

/** Just enough JSON for the records this benchmark writes. */
object Json {
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

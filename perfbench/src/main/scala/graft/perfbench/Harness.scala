package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchAccess
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

import graft.{Graft, SparkEntry, Tables}

/** The benchmark's JVM: one run over one workload's query mix.
  *
  * A run is set-up (from JVM launch, `launch_ms`), one cold pass, two
  * untimed settle passes, then warm passes until `seconds` have elapsed (at
  * least three). A warm execution is one call into `SparkEntry.queries(name)`
  * followed by a `noop` write of its result. The cold pass writes each
  * result as parquet instead, for the oracle comparison `run.py` makes after
  * this JVM exits. After each execution of the last settle pass a full GC
  * reads the live heap; no GC is forced during the warm passes. The release steps run after
  * every execution, outside the timing. With `trace=1` a [[Tracer]] records
  * spans, which are written to `spans` when the run ends. Arguments are
  * `key=value` pairs; `mode=oracles` only writes the queries' oracle SQL.
  */
object Harness {
  implicit val formats: Formats = DefaultFormats

  def writeJson(path: String, value: Map[String, Any]): Unit =
    Files.writeString(Paths.get(path), Serialization.write(value))

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    opt.getOrElse("mode", "run") match {
      case "oracles" =>
        writeJson(opt("out"), opt("queries").split(',').map(n =>
          n -> SparkEntry.oracleSql.get(n).orNull).toMap)
      case "run" =>
        // Exit explicitly: a failed run must not linger on Spark's threads.
        val code = try { new Run(opt).run(); 0 } catch { case e: Throwable =>
          e.printStackTrace(); 1
        }
        sys.exit(code)
    }
  }
}

private object Run {
  val SettlePasses = 2
  /** At least three warm passes, so that their median drops one slow pass. */
  val MinWarmPasses = 3
  final case class ExecRec(phase: String, wallS: Double, cpuS: Double, ok: Boolean)
  final case class PassRec(phase: String, index: Int, wallS: Double, cpuS: Double)
}

private final class Run(opt: Map[String, String]) {
  import Run._
  private val data = opt("data")
  private val runDir = Paths.get(opt("run_dir"))
  private val cores = opt("cores").toInt
  private val names = opt("queries").split(',').toSeq
  private val seconds = opt("seconds").toDouble
  private val launchMs = opt("launch_ms").toDouble
  private val queries = SparkEntry.queries
  require(names.forall(queries.contains),
    s"unknown queries: ${names.filterNot(queries.contains).mkString(",")}")

  private val t0Nano = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  private def nowMs: Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val jit = ManagementFactory.getCompilationMXBean
  private def cpuNs: Long = os.getProcessCpuTime
  private def gcMs: Long = gcBeans.map(_.getCollectionTime).filter(_ > 0).sum
  private def jitMs: Long = jit.getTotalCompilationTime
  private def heapAfterGc(): Long = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }
  /** Heap in use after full GCs, repeated until two readings 150 ms apart
    * agree: a GC lets the ContextCleaner, which polls every 100 ms, release
    * blocks of unreachable RDDs, and only a later GC frees their memory. */
  private def liveHeap(): Long = {
    var (prev, cur, n) = (Long.MaxValue, heapAfterGc(), 0)
    while (n < 10 && math.abs(prev - cur) > (1L << 20)) {
      Thread.sleep(150)
      prev = cur; cur = heapAfterGc(); n += 1
    }
    cur
  }
  private var peakHeap = 0L

  private val tracer: Option[Tracer] = if (opt("trace") == "1") Some(new Tracer(data)) else None
  private val runSpan = tracer.map(_.newId()).getOrElse(0L)
  private var spark: SparkSession = _

  private def setUp(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .config("spark.local.dir", runDir.resolve("local").toString)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.cteRecursionRowLimit", Graft.CteRecursionRowCeiling.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Tables.all.foreach { t =>
      require(Files.isRegularFile(Paths.get(data, s"$t.parquet")), s"missing fixture $data/$t.parquet")
    }
    s
  }

  private val execs = mutable.ArrayBuffer[ExecRec]()
  private val execSpans = mutable.Map[Int, Tracer.ExecSpans]()
  private val failures = mutable.ArrayBuffer[String]()

  /** The release steps of `graft.Bench`: checkpoint blocks behind the
    * result, the streaming drains' temp views, and loaded state stores. */
  private def release(df: DataFrame): Unit = {
    if (df != null) graft.operators.Dedup.unpersistBlocks(df)
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_stream")).foreach(v => spark.catalog.dropTempView(v))
    org.apache.spark.sql.GraftStateStoreAccess.unloadAll()
  }

  private def execute(name: String, pass: Int, phase: String, passSpan: Long,
      sink: Option[Path]): ExecRec = {
    val id = execs.size
    val sc = spark.sparkContext
    tracer.foreach(_.currentExec = id)
    sc.setLocalProperty(Tracer.ExecProperty, id.toString)
    val (cg0, gc0, jit0, cpu0) = (CodeGenerator.compileTime, gcMs, jitMs, cpuNs)
    val start = nowMs
    var callEnd = Double.NaN
    var df: DataFrame = null
    var ok = try {
      df = queries(name)(spark, data)
      callEnd = nowMs
      sink match {
        case None => df.write.format("noop").mode("overwrite").save()
        case Some(p) => df.write.mode("overwrite").parquet(p.toString)
      }
      true
    } catch { case e: Throwable =>
      failures += s"$name ($phase pass $pass): $e"
      System.err.println(s"[perfbench] $name failed: $e")
      false
    }
    val end = nowMs
    val cpu = cpuNs - cpu0
    val (cg, gc, jitted) = (CodeGenerator.compileTime - cg0, gcMs - gc0, jitMs - jit0)
    if (callEnd.isNaN) callEnd = end
    sc.setLocalProperty(Tracer.ExecProperty, null)
    // Heap while the result and everything behind it is still held.
    if (phase == "settle" && pass == SettlePasses) peakHeap = math.max(peakHeap, heapAfterGc())
    // The execution's events are delivered before the release steps start,
    // and the release steps' own jobs before the next execution starts.
    tracer.foreach { t =>
      PerfbenchAccess.drainListenerBus(sc)
      t.currentExec = Tracer.NoExec
    }
    try release(df) catch { case e: Throwable =>
      failures += s"$name ($phase pass $pass) release: $e"
      ok = false
    }
    tracer.foreach { t =>
      PerfbenchAccess.drainListenerBus(sc)
      val es = t.newId()
      t.put(es, passSpan, name, "exec", start, end, id, Seq("pass" -> pass,
        "phase" -> phase, "ok" -> ok, "codegen_ns" -> cg, "gc_ms" -> gc,
        "jit_ms" -> jitted, "cpu_ns" -> cpu))
      val call = t.add(es, "call", "call", start, callEnd, id)
      val write = t.add(es, "write", "write", callEnd, end, id)
      execSpans(id) = Tracer.ExecSpans(es, call, write, callEnd, end)
    }
    val rec = ExecRec(phase, (end - start) / 1000, cpu / 1e9, ok)
    execs += rec
    rec
  }

  private def runPass(phase: String, index: Int, order: Seq[String],
      sinkDir: Option[Path] = None): PassRec = {
    val span = tracer.map(_.newId()).getOrElse(0L)
    val (start, gc0, jit0) = (nowMs, gcMs, jitMs)
    val recs = order.map(n => execute(n, index, phase, span, sinkDir.map(_.resolve(n))))
    val rec = PassRec(phase, index, recs.map(_.wallS).sum, recs.map(_.cpuS).sum)
    tracer.foreach(_.put(span, runSpan, "pass", "pass", start, nowMs, Tracer.NoExec, Seq(
      "phase" -> phase, "index" -> index, "wall_s" -> rec.wallS, "cpu_s" -> rec.cpuS,
      "gc_ms" -> (gcMs - gc0), "jit_ms" -> (jitMs - jit0))))
    rec
  }

  /** Direct, timed calls into single layers, made after the warm passes. */
  private def probes(t: Tracer): Unit = {
    t.mixTables.foreach { table =>
      val start = nowMs
      Tables.load(spark, data, table)
      t.add(runSpan, "tables.load", "probe", start, nowMs, Tracer.NoExec, Seq("table" -> table))
    }
    val start = nowMs
    Graft.init(spark)
    t.add(runSpan, "functions.register", "probe", start, nowMs, Tracer.NoExec)
    PerfbenchAccess.drainListenerBus(spark.sparkContext)
  }

  def run(): Unit = {
    val runStart = nowMs
    spark = setUp()
    val setupS = (nowMs - launchMs) / 1000
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t.sparkListener)
      spark.listenerManager.register(t.queryListener)
      spark.streams.addListener(t.streamListener)
    }

    val jit0 = jitMs
    // The cold pass runs in name order: which query runs first decides much
    // of its JIT and codegen cost. The warm passes take the seed's order.
    val cold = runPass("cold", 0, names.sorted, Some(runDir.resolve("results")))
    val jitColdMs = jitMs - jit0
    // Let the ContextCleaner finish with the cold pass, and C2 with the hot
    // methods, before timing: process CPU of the first pass after the cold
    // one is about 1.5x that of later ones, and with a single settle pass
    // most queries still got faster from one warm pass to the next.
    liveHeap()
    (1 to SettlePasses).foreach(runPass("settle", _, names))
    val warmStart = nowMs
    val warm = mutable.ArrayBuffer[PassRec]()
    while (warm.size < MinWarmPasses || (nowMs - warmStart) / 1000 < seconds)
      warm += runPass("warm", warm.size + 1, names)
    tracer.foreach(probes)

    val storage = spark.sparkContext.getRDDStorageInfo
    val blocksLeft = storage.map(_.numCachedPartitions.toLong).sum
    val bytesLeft = storage.map(i => i.memSize + i.diskSize).sum
    val retained = liveHeap()
    tracer.foreach { t =>
      val at = nowMs
      t.add(runSpan, "storage.left", "probe", at, at, Tracer.NoExec,
        Seq("blocks" -> blocksLeft, "bytes" -> bytesLeft))
      t.put(runSpan, 0L, "run", "run", runStart, nowMs, Tracer.NoExec, Seq(
        "cores" -> cores, "jit_cold_ms" -> jitColdMs, "setup_s" -> setupS))
      t.write(Paths.get(opt("spans")), execSpans.toMap)
    }

    val mb = 1024.0 * 1024.0
    Harness.writeJson(opt("out"), ListMap(
      "setup_s" -> setupS,
      "first_pass_s" -> cold.wallS,
      "passes" -> warm.map(p => Map("index" -> p.index, "wall_s" -> p.wallS,
        "cpu_s" -> p.cpuS)).toSeq,
      "warm_exec_s" -> execs.filter(_.phase == "warm").map(_.wallS).toSeq,
      "attempted" -> execs.size,
      "failed" -> execs.count(!_.ok),
      "failures" -> failures.toSeq,
      "peak_heap_mb" -> peakHeap / mb,
      "retained_heap_mb" -> retained / mb,
      "storage_blocks_left" -> blocksLeft,
      "storage_bytes_left" -> bytesLeft,
      "oracle_sql" -> names.map(n => n -> SparkEntry.oracleSql.get(n).orNull).toMap))
    spark.stop()
  }
}

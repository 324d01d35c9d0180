package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.NotificationEmitter
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run: set-up, an uncounted warm-up pass, then the measured
  * pass over the query sequence `run.py` took from the workload's pool.
  * A measured execution is `Q.run` (the body) followed by a noop write of
  * the returned frame (the materialization).
  *
  * Spec file, one directive a line:
  * {{{
  *   corpus <dir>
  *   trace <0|1>
  *   query <name> <golden digest>
  * }}}
  * With `trace 1` each query also runs once traced, and the walls of the
  * two kinds give the tracing overhead. Digests are checked outside the
  * timed spans on every execution. The output is one JSON
  * object of raw records; `run.py` derives every metric from it.
  */
object Runner {
  /** Serialises the Scala maps and sequences the benchmark writes. */
  val json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  final case class Spec(corpus: String, trace: Boolean, queries: Vector[(String, String)])

  def parse(lines: Seq[String]): Spec = {
    val kv = lines.map(_.trim).filter(_.nonEmpty).map(_.split(" ", 2)).map(a => a(0) -> a(1))
    def one(k: String) = kv.collectFirst { case (`k`, v) => v }
      .getOrElse(throw new IllegalArgumentException(s"spec lacks $k"))
    val qs = kv.collect { case ("query", v) => val Array(n, d) = v.split(" ", 2); n -> d }
    Spec(one("corpus"), one("trace") == "1", qs.toVector)
  }

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  /** Largest heap occupancy left after a collection while `tracking`. */
  private object HeapAfterGc {
    @volatile var tracking = false
    @volatile var peak = 0L
    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case em: NotificationEmitter => em.addNotificationListener((n, _) =>
        if (tracking &&
            n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { peak = math.max(peak, used) }
        }, null, null)
      case _ => ()
    }
  }

  private def heapUsed(): Long = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getUsage.getUsed).sum

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private val jit = ManagementFactory.getCompilationMXBean

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def main(specPath: String, outPath: String): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spec = parse(java.nio.file.Files.readAllLines(java.nio.file.Paths.get(specPath)).asScala.toSeq)
    val registry = graft.SparkEntry.queries
    val execs = mutable.ArrayBuffer.empty[Map[String, Any]]
    val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
    HeapAfterGc.install()

    val preSessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val t0 = System.nanoTime()
    val spark = graft.Sessions.local()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val rec = new Recorder

    def check(kind: String, name: String, golden: String, df: DataFrame): Unit = {
      val start = System.currentTimeMillis()
      val got = try Digest.of(df) catch { case e: Throwable => s"error: ${e.getClass.getName}" }
      val end = System.currentTimeMillis()
      checks += Map("name" -> name, "kind" -> kind, "start" -> start,
        "end" -> end, "ok" -> (got == golden), "digest" -> got)
      System.err.println(s"[perfbench] check $kind $name ${(end - start) / 1e3} s " +
        (if (got == golden) "ok" else s"WRONG $got"))
    }

    def execute(kind: String, name: String, golden: String, materialize: Boolean): Unit = {
      val startMs = System.currentTimeMillis()
      val cpu0 = os.getProcessCpuTime
      val jit0 = jit.getTotalCompilationTime
      val gc0 = gcMs()
      val n0 = System.nanoTime()
      var bodyEndMs = -1L
      var nBody = n0
      var out: DataFrame = null
      val error =
        try {
          out = registry(name)(spark, spec.corpus)
          nBody = System.nanoTime(); bodyEndMs = System.currentTimeMillis()
          if (materialize) out.write.format("noop").mode("overwrite").save()
          null
        } catch { case e: Throwable => s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(200)}" }
      val n1 = System.nanoTime()
      execs += Map("name" -> name, "kind" -> kind,
        "start" -> startMs, "body_end" -> bodyEndMs, "end" -> System.currentTimeMillis(),
        "wall_s" -> (n1 - n0) / 1e9,
        "body_s" -> (if (bodyEndMs < 0) (n1 - n0) / 1e9 else (nBody - n0) / 1e9),
        "materialize_s" -> (if (bodyEndMs < 0) 0.0 else (n1 - nBody) / 1e9),
        "cpu_s" -> (os.getProcessCpuTime - cpu0) / 1e9, "gc_s" -> (gcMs() - gc0) / 1e3,
        "jit_s" -> (jit.getTotalCompilationTime - jit0) / 1e3,
        "error" -> error)
      System.err.println(f"[perfbench] $kind%s $name%s ${(n1 - n0) / 1e9}%.3f s" +
        (if (error == null) "" else s" FAILED $error"))
      if (error == null) check(kind, name, golden, out)
    }

    val t1 = System.nanoTime()
    graft.Tables.all.foreach(t => graft.Tables.df(spark, spec.corpus, t).count())
    val tablesS = (System.nanoTime() - t1) / 1e9
    // the warm-up's digest check is its materialization
    for ((n, g) <- spec.queries) execute("warmup", n, g, materialize = false)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val setupCpuS = os.getProcessCpuTime / 1e9
    System.err.println(f"[perfbench] setup $setupS%.3f s: session $sessionS%.3f s, tables $tablesS%.3f s, " +
      f"JVM start to session start $preSessionS%.3f s")
    if (spec.trace) {
      spark.sparkContext.addSparkListener(rec.sparkListener)
      spark.listenerManager.register(rec.executionListener)
      spark.streams.addListener(rec.streamingListener)
    }

    for (((n, g), i) <- spec.queries.zipWithIndex) {
      def untraced(): Unit = {
        HeapAfterGc.tracking = true
        execute("measured", n, g, materialize = true)
        HeapAfterGc.tracking = false
      }
      def traced(): Unit = execute("traced", n, g, materialize = true)
      // a traced run times each query both ways, alternating which goes
      // first, so neither kind gets the warmer slot more often
      if (!spec.trace) untraced()
      else if (i % 2 == 0) { untraced(); traced() }
      else { traced(); untraced() }
    }
    val heapPeak = math.max(HeapAfterGc.peak, 0L)
    val heapNow = heapUsed()
    spark.stop() // drains the listener bus, so the recorder is complete

    val out = scala.collection.immutable.ListMap(
      "jvm_start_ms" -> jvmStartMs, "setup_s" -> setupS, "setup_cpu_s" -> setupCpuS,
      "session_s" -> sessionS,
      "tables_s" -> tablesS, "heap_peak_bytes" -> (if (heapPeak > 0) heapPeak else heapNow),
      "cpus" -> Runtime.getRuntime.availableProcessors(),
      "execs" -> execs.toVector, "checks" -> checks.toVector) ++
      (if (spec.trace) rec.fields else Map.empty)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json.writeValueAsString(out))
  }
}

package perfbench

import java.io.File
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.queries._

/** Observes every registry query once cold and once warm, to derive the
  * workload pools and record golden digests.
  *
  * Per query it writes one JSON line: the family, the warm wall time, the warm execution's job count, whether the
  * warm execution started a StreamingQuery or wrote a file under the
  * scratch root, and the digests of the cold and warm results. The cold
  * result is also written as parquet under `outDir/<name>` with an
  * `oracle_sql.json` beside it, the layout `tools/compare.py` checks
  * against DuckDB.
  */
object Probe {
  val families: Seq[(String, Vector[graft.Q])] = Seq(
    "RelationalQueries" -> RelationalQueries.defs,
    "WindowQueries" -> WindowQueries.defs,
    "JoinQueries" -> JoinQueries.defs,
    "TimeSeriesQueries" -> TimeSeriesQueries.defs,
    "TextQueries" -> TextQueries.defs,
    "SimilarityQueries" -> SimilarityQueries.defs,
    "SkewQueries" -> SkewQueries.defs,
    "ExtraQueries" -> ExtraQueries.defs,
    "TpchQueries" -> TpchQueries.defs,
    "MlQueries" -> MlQueries.defs,
    "PipelineQueries" -> PipelineQueries.defs,
    "ProfileQueries" -> ProfileQueries.defs,
    "MultimodalQueries" -> MultimodalQueries.defs,
    "FeatureQueries" -> FeatureQueries.defs,
    "EventQueries" -> EventQueries.defs,
    "AssocQueries" -> AssocQueries.defs)

  /** (path, size, mtime) of every file under `root`. */
  private def files(root: File): Set[(String, Long, Long)] = {
    val out = Set.newBuilder[(String, Long, Long)]
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (f.exists()) out += ((f.getPath, f.length(), f.lastModified()))
    walk(root)
    out.result()
  }

  def run(spark: SparkSession, corpus: String, outDir: String,
          names: Seq[String], scratchRoot: File): Unit = {
    val byName = families.flatMap { case (fam, qs) => qs.map(q => q.name -> (fam, q)) }.toMap
    val streams = new AtomicInteger
    val jobs = new AtomicInteger
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        streams.incrementAndGet()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
    new File(outDir).mkdirs()
    val log = new java.io.PrintWriter(new java.io.FileWriter(s"$outDir/probe.jsonl", true), true)
    for (name <- names) {
      val (fam, q) = byName(name)
      val rec = scala.collection.mutable.LinkedHashMap[String, Any](
        "name" -> name, "family" -> fam)
      try {
        val t0 = System.nanoTime()
        val cold = q.run(spark, corpus)
        cold.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        rec("cold_s") = (System.nanoTime() - t0) / 1e9
        rec("digest_cold") = Digest.of(cold)
        rec("digest_parquet") = Digest.of(spark.read.parquet(s"$outDir/$name"))
        Thread.sleep(300) // let listener events of the cold execution land
        val before = files(scratchRoot)
        streams.set(0); jobs.set(0)
        val t1 = System.nanoTime()
        val warm = q.run(spark, corpus)
        warm.write.format("noop").mode("overwrite").save()
        rec("warm_s") = (System.nanoTime() - t1) / 1e9
        Thread.sleep(300)
        rec("jobs") = jobs.get()
        rec("streams") = streams.get()
        rec("scratch_writes") = (files(scratchRoot) -- before).size
        rec("digest_warm") = Digest.of(warm)
      } catch {
        case e: Throwable => rec("error") = s"${e.getClass.getName}: ${e.getMessage}".take(300)
      }
      log.println(Runner.json.writeValueAsString(rec))
    }
    log.close()
    val oracles = graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      Runner.json.writeValueAsString(oracles))
  }
}

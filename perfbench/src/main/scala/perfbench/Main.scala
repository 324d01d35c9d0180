package perfbench

import java.io.File

/** JVM side of the benchmark. `perfbench/run.py` launches it with the run
  * root already set up (`spark.graft.scratch.dir`, `java.io.tmpdir`,
  * `SPARK_LOCAL_DIRS` and the working directory all point inside it).
  *
  *   gen <dir> <mult>                   write a ScaleGen corpus
  *   probe <corpus> <outDir> <names>    observe queries (see [[Probe]])
  *   run <specFile> <outFile>           one benchmark run (see [[Runner]])
  *   selftest                           check the digest (see [[Digest.selfTest]])
  */
object Main {
  def main(args: Array[String]): Unit = {
    mode(args.toList)
    // Spark leaves non-daemon threads behind after stop()
    sys.exit(0)
  }

  private def mode(args: List[String]): Unit = args match {
    case "gen" :: dir :: mult :: Nil =>
      val spark = graft.Sessions.local()
      graft.ScaleGen.generate(spark, dir, mult.toInt)
      spark.stop()
    case "probe" :: corpus :: outDir :: names :: Nil =>
      val spark = graft.Sessions.local()
      val all = graft.SparkEntry.queries.keys.toSeq.sorted
      val picked = if (names == "all") all else names.split(",").toSeq
      Probe.run(spark, corpus, outDir, picked,
        new File(spark.conf.get("spark.graft.scratch.dir")))
      spark.stop()
    case "run" :: spec :: out :: Nil =>
      Runner.main(spec, out)
    case "selftest" :: Nil =>
      val spark = graft.Sessions.local()
      val ok = try { Digest.selfTest(spark); true }
               catch { case e: AssertionError => System.err.println(e.getMessage); false }
      spark.stop()
      if (!ok) sys.exit(1)
    case _ =>
      System.err.println("usage: gen <dir> <mult> | probe <corpus> <outDir> <names> | run <spec> <out> | selftest")
      sys.exit(2)
  }
}

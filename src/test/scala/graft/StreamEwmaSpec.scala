package graft

import graft.operators.Ewma
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Streaming EWMA maintenance: q130's ewmaAppendBatch driven by a
  * micro-batched file stream in foreachBatch, with the carried per-key
  * state PERSISTED to parquet between batches — the feature-store
  * deployment shape (each micro-batch folds only its own rows from the
  * last materialized state; nothing re-reads history). Waves arrive in
  * time order (the operator's contract); the drained output across a
  * checkpoint restart must be bit-identical to the one-shot fold.
  */
class StreamEwmaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("graft_streamewma_").toString

  test("micro-batched ewmaAppendBatch with parquet state == one-shot fold, across a restart") {
    val base = tmp()
    val (inDir, outDir, stateDir, ckpt) =
      (s"$base/in", s"$base/out", s"$base/state", s"$base/ewma_ckpt")
    val rnd = new scala.util.Random(23)
    val all = for (k <- 1L to 5L; t <- 1L to 24L if rnd.nextDouble() < 0.8)
      yield (k, t, rnd.nextDouble() * 50)
    val (wave1, wave2) = all.partition(_._2 <= 12)
    // time-ordered arrival: wave1 lands (one file -> one micro-batch),
    // drain, then wave2 lands and a NEW query resumes the checkpoint
    wave1.toDF("k", "t", "v").coalesce(1).write.parquet(inDir)

    def emptyState() = Seq.empty[(Long, Long, Double)].toDF("k", "t", "ewma")
    def drain(): Unit = {
      val sch = spark.read.parquet(inDir).schema
      Q.drain(spark.readStream.schema(sch)
          .option("maxFilesPerTrigger", "1").parquet(inDir), ckpt) { (b, _) =>
        val state =
          if (new java.io.File(stateDir).exists) spark.read.parquet(stateDir)
          else emptyState()
        val out = Ewma.ewmaAppendBatch(b, state, "k", "t", "v", 0.5)
          .localCheckpoint(true)
        out.write.mode(SaveMode.Append).parquet(outDir)
        // state swap via overwrite-to-temp + rename would be the
        // production move; Overwrite suffices for the spec's
        // single-writer loop
        val next = Ewma.mergeState(state, out, "k", "t").localCheckpoint(true)
        next.write.mode(SaveMode.Overwrite).parquet(s"$stateDir.next")
        spark.read.parquet(s"$stateDir.next").write
          .mode(SaveMode.Overwrite).parquet(stateDir)
      }
    }
    drain()
    wave2.toDF("k", "t", "v").coalesce(1).write.mode("append").parquet(inDir)
    drain()

    val got = spark.read.parquet(outDir)
      .as[(Long, Long, Double, Double)].collect().sortBy(x => (x._1, x._2)).toSeq
    val oneShot = Ewma.ewmaByKey(all.toDF("k", "t", "v"), "k", "t", "v", 0.5)
      .as[(Long, Long, Double, Double)].collect().sortBy(x => (x._1, x._2)).toSeq
    assert(got.nonEmpty)
    assert(got == oneShot) // bit-exact doubles, no tolerance
  }
}

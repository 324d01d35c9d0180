package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Q.drain, the one AvailableNow harness every streaming query body and
  * sink runs through: checkpoint resume, failure surfacing, the
  * versioned-state lookup beside it, and a guard that keeps it the only
  * drain path in the engine. */
class DrainSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft_drain_").toString

  test("a second drain on the same checkpoint folds only the files appended since, under the next batch ids") {
    val root = tmp()
    val in = root + "/in"
    Seq("a").toDF("v").coalesce(1).write.parquet(in)
    Seq("b").toDF("v").coalesce(1).write.mode("append").parquet(in)
    val schema = spark.read.parquet(in).schema
    val seen = new ConcurrentLinkedQueue[(Long, Seq[String])]()
    def drain(): Seq[(Long, Seq[String])] = {
      seen.clear()
      Q.drain(spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(in), root + "/ckpt") {
        (b, id) => seen.add(id -> b.as[String].collect().toSeq.sorted)
      }
      seen.asScala.toSeq.sortBy(_._1)
    }
    val first = drain()
    assert(first.map(_._1) == Seq(0L, 1L))
    assert(first.map(_._2.size) == Seq(1, 1), "one file per micro-batch")
    assert(first.flatMap(_._2).sorted == Seq("a", "b"))
    Seq("c", "d").toDF("v").coalesce(1).write.mode("append").parquet(in)
    assert(drain() == Seq(2L -> Seq("c", "d")))
  }

  test("a failing fold makes drain throw with the fold's error and leaves no stream running") {
    val root = tmp()
    Seq(1).toDF("v").write.parquet(root + "/in")
    val e = intercept[Exception] {
      Q.drain(spark.readStream.schema(spark.read.parquet(root + "/in").schema)
          .parquet(root + "/in"), root + "/ckpt") { (_, _) =>
        throw new IllegalArgumentException("fold refused the batch")
      }
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(chain.exists(t => Option(t.getMessage).exists(_.contains("fold refused the batch"))),
      s"fold's message missing from $e")
    assert(spark.streams.active.isEmpty)
  }

  test("latestBelow picks the newest state=<k> version with k < id") {
    val root = tmp()
    assert(Q.latestBelow(root + "/missing", 5) == None)
    Seq("state=0", "state=2", "state=5", "staging").foreach { d =>
      new java.io.File(root, d).mkdirs()
    }
    assert(Q.latestBelow(root, 0) == None)
    assert(Q.latestBelow(root, 5) == Some(s"$root/state=2"))
    assert(Q.latestBelow(root, 2) == Some(s"$root/state=0"))
    assert(Q.latestBelow(root, Long.MaxValue) == Some(s"$root/state=5"))
  }

  test("no engine code starts or awaits an AvailableNow stream outside Q.drain") {
    val src = new java.io.File("src/main/scala")
    assert(src.isDirectory, s"run from the repo root: ${src.getAbsolutePath}")
    val offenders = Files.walk(src.toPath).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !p.endsWith("graft/Q.scala"))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains(".awaitTermination(") ||
              line.contains("Trigger.AvailableNow()") => s"$p:${i + 1}"
        }
      }.toSeq
    assert(offenders.isEmpty, s"drain outside Q.drain: ${offenders.mkString(", ")}")
  }
}

package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The commit-protocol queries (q85/q92 and the round-trip family) and
  * q80's Z-ordered write do real filesystem I/O — their scratch root must follow
  * `spark.graft.scratch.dir` so two concurrent gates against the same
  * scale dir write to disjoint roots instead of colliding on a
  * hard-coded /tmp path.
  */
class ScratchDirSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"

  test("q85 honors spark.graft.scratch.dir (isolated session conf)") {
    val root = Files.createTempDirectory("graft_scratch_").toString
    // conf isolation: a newSession shares the context but not SQLConf,
    // so concurrently-running suites never see this setting
    val s = TestSpark.spark.newSession()
    s.conf.set("spark.graft.scratch.dir", root)
    val out = SparkEntry.queries("q85_incremental_rollup_replay")(s, sfDir)
    assert(out.count() > 0)
    val produced = new java.io.File(root).listFiles()
    assert(produced != null && produced.exists(_.getName.startsWith("graft_q85_rollup_")),
      s"expected q85 scratch under $root, found ${Option(produced).map(_.mkString(","))}")
  }

  test("q92 honors spark.graft.scratch.dir and stays result-identical to q85") {
    val root = Files.createTempDirectory("graft_scratch_").toString
    val s = TestSpark.spark.newSession()
    s.conf.set("spark.graft.scratch.dir", root)
    val q92 = SparkEntry.queries("q92_manifest_rollup_replay")(s, sfDir)
    val q85 = SparkEntry.queries("q85_incremental_rollup_replay")(s, sfDir)
    assert(q92.exceptAll(q85).isEmpty && q85.exceptAll(q92).isEmpty,
      "q92 (manifest protocol) must produce q85's exact rollup")
    val names = new java.io.File(root).listFiles().map(_.getName)
    assert(names.exists(_.startsWith("graft_q92_manifest_")))
  }

  test("q80 writes its Z-ordered table under spark.graft.scratch.dir") {
    val root = Files.createTempDirectory("graft_scratch_").toString
    val s = TestSpark.spark.newSession()
    s.conf.set("spark.graft.scratch.dir", root)
    val out = SparkEntry.queries("q80_zorder_write_manifest")(s, sfDir)
    assert(out.count() > 0)
    val names = new java.io.File(root).listFiles().map(_.getName)
    assert(names.exists(_.startsWith("graft_q80_zorder_")),
      s"expected q80 output under $root, found ${names.mkString(",")}")
  }
}

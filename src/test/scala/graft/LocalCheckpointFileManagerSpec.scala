package graft

import java.nio.file.{Files, Paths}

import graft.streaming.LocalCheckpointFileManager
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The java.nio checkpoint file manager (local-FS fork-free replacement
  * for the FileContext-based default — see Sessions). The contract
  * under test is the one HDFSMetadataLog and the state stores rely on:
  * atomic rename-on-close, FileAlreadyExists on a second writer,
  * FileNotFound on missing reads, recursive delete, and an unchanged
  * end-to-end streaming resume on one checkpoint. */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp() = Files.createTempDirectory("graft_ckptfm_").toString

  private def fm(root: String) =
    new LocalCheckpointFileManager(new Path(root), new Configuration())

  test("session wires the manager in for local masters") {
    assert(spark.conf.get("spark.sql.streaming.checkpointFileManagerClass")
      == "graft.streaming.LocalCheckpointFileManager")
  }

  test("createAtomic renames on close; content visible only after close") {
    val root = tmp(); val m = fm(root)
    val f = new Path(s"$root/offsets/0")
    val out = m.createAtomic(f, overwriteIfPossible = false)
    out.write("v1\nbatch0".getBytes("UTF-8"))
    assert(!m.exists(f), "destination must not exist before close")
    out.close()
    assert(m.exists(f))
    // no stray .tmp siblings left behind
    assert(m.list(new Path(s"$root/offsets")).map(_.getPath.getName).toSet == Set("0"))
    val in = m.open(f)
    val buf = new Array[Byte](64)
    val n = in.read(buf, 0, buf.length)
    in.close()
    assert(new String(buf, 0, n, "UTF-8") == "v1\nbatch0")
  }

  test("second non-overwriting writer raises hadoop FileAlreadyExistsException") {
    val root = tmp(); val m = fm(root)
    val f = new Path(s"$root/commits/7")
    val a = m.createAtomic(f, overwriteIfPossible = false)
    a.write("a".getBytes); a.close()
    val b = m.createAtomic(f, overwriteIfPossible = false)
    b.write("b".getBytes)
    intercept[FileAlreadyExistsException] { b.close() }
    // loser's temp file is cleaned up, winner's content stands
    assert(m.list(new Path(s"$root/commits")).map(_.getPath.getName).toSet == Set("7"))
    val in = m.open(f); assert(in.read() == 'a'.toInt); in.close()
  }

  test("overwriteIfPossible replaces an existing destination") {
    val root = tmp(); val m = fm(root)
    val f = new Path(s"$root/state/1.delta")
    val a = m.createAtomic(f, overwriteIfPossible = true)
    a.write("old".getBytes); a.close()
    val b = m.createAtomic(f, overwriteIfPossible = true)
    b.write("new".getBytes); b.close()
    val in = m.open(f)
    val buf = new Array[Byte](8); val n = in.read(buf, 0, 8); in.close()
    assert(new String(buf, 0, n) == "new")
  }

  test("cancel leaves neither destination nor temp file") {
    val root = tmp(); val m = fm(root)
    val f = new Path(s"$root/offsets/9")
    val out = m.createAtomic(f, overwriteIfPossible = false)
    out.write("junk".getBytes)
    out.cancel()
    assert(!m.exists(f))
    assert(!Files.exists(Paths.get(root, "offsets")) ||
      m.list(new Path(s"$root/offsets")).isEmpty)
  }

  test("open/list on missing paths raise java.io.FileNotFoundException") {
    val root = tmp(); val m = fm(root)
    intercept[java.io.FileNotFoundException] { m.open(new Path(s"$root/nope")) }
    intercept[java.io.FileNotFoundException] { m.list(new Path(s"$root/nodir")) }
  }

  test("delete is recursive and ignores missing paths") {
    val root = tmp(); val m = fm(root)
    m.mkdirs(new Path(s"$root/a/b"))
    val out = m.createAtomic(new Path(s"$root/a/b/f"), overwriteIfPossible = false)
    out.write("x".getBytes); out.close()
    m.delete(new Path(s"$root/a"))
    assert(!m.exists(new Path(s"$root/a")))
    m.delete(new Path(s"$root/a")) // second delete: no-op, no throw
  }

  test("seek/positioned reads behave for the metadata-log reader") {
    val root = tmp(); val m = fm(root)
    val f = new Path(s"$root/meta")
    val out = m.createAtomic(f, overwriteIfPossible = false)
    out.write("0123456789".getBytes); out.close()
    val in = m.open(f)
    in.seek(4)
    assert(in.getPos == 4)
    assert(in.read() == '4'.toInt)
    val buf = new Array[Byte](3)
    in.readFully(7, buf)
    assert(new String(buf) == "789")
    assert(in.getPos == 5, "positioned read must not move the cursor")
    in.close()
  }

  test("end-to-end: AvailableNow resume on one checkpoint is exactly-once") {
    import spark.implicits._
    val root = tmp()
    val src = s"$root/src"; val ckpt = s"$root/ckpt"; val sink = s"$root/sink"
    Seq(1, 2, 3).toDF("v").write.parquet(s"$src/w1")
    def drain(): Unit = Q.drain(spark.readStream
        .schema("v INT").option("maxFilesPerTrigger", "1")
        .parquet(s"$src/*"), ckpt) { (b, id) =>
      b.write.mode("overwrite").parquet(s"$sink/b$id")
    }
    drain()
    Seq(4, 5).toDF("v").write.parquet(s"$src/w2")
    drain() // resumes from the SAME checkpoint: only w2 is new
    val all = spark.read.parquet(s"$sink/*").as[Int].collect().sorted
    assert(all.toSeq == Seq(1, 2, 3, 4, 5))
  }
}

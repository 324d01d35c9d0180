package graft

import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeAndComment, CodeGenerator, GenerateUnsafeProjection}
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** Spark keeps generated classes in one JVM-global cache. Its default
  * 100 entries are fewer than one maintenance query compiles, so a
  * repeated plan recompiled (and re-JITed) its classes on every run;
  * the session's bound must keep a compiled class across that many
  * other compiles.
  */
class SessionsSpec extends AnyFunSuite {

  test("sessions carry the codegen cache bound") {
    assert(TestSpark.spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      Sessions.CodegenCacheEntries.toString)
  }

  test("a generated class survives hundreds of other compiles") {
    TestSpark.spark // the cache is sized from the session's conf at first use
    val first = new CodeAndComment(
      "public Object generate(Object[] references) { return \"sessions-spec\"; }",
      Map.empty[String, String])
    val (cls, _) = CodeGenerator.compile(first)
    // 400 distinct projections: every constant is inlined into its
    // source, so each one is a fresh cache entry
    for (i <- 1 to 400)
      GenerateUnsafeProjection.generate(
        Seq(Add(BoundReference(0, LongType, nullable = false), Literal(i.toLong))))
    val (again, _) = CodeGenerator.compile(first)
    assert(again eq cls, "the first class was evicted and recompiled")
  }
}

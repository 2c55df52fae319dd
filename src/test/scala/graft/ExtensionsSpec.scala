package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** GraftExtensions as installed by GraftSession: the custom expressions
  * are SQL functions and the optimizer rule fires in the shared session
  * itself, with nothing registered by hand — and GraftSession is the only
  * place a session can be built, so Bench, Verify and the suite agree.
  */
class ExtensionsSpec extends SparkSpec {

  test("custom expressions are callable from SQL") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val reg = spark.sessionState.functionRegistry
    for (f <- Seq("poly_hash", "vec_dot", "shingle_hashes", "min_hash_sig"))
      assert(reg.functionExists(new FunctionIdentifier(f)),
        s"$f missing: the shared session was built without GraftExtensions")
    val h = spark.sql("SELECT poly_hash('spark') AS h").collect().head.getLong(0)
    // reference recurrence
    var acc = 0L
    "spark".foreach(c => acc = (acc * 131 + c) % 1000000007L)
    assert(h == acc)
    val d = spark.sql(
      "SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .collect().head.getDouble(0)
    assert(d == 11.0)
    val n = spark.sql(
      "SELECT size(shingle_hashes(array('a','b','c','d'))) AS n")
      .collect().head.getInt(0)
    assert(n == 2)
    val m = spark.sql(
      "SELECT size(min_hash_sig(array(5L, 99L))) AS m")
      .collect().head.getInt(0)
    assert(m == graft.functions.MinHashSig.NumHashes)
  }

  test("custom expressions compile under codegen (no interpreted fallback)") {
    // GenerateMutableProjection.generate invokes Janino eagerly and throws
    // on any compile error — the same error that, in a query, would only
    // surface as a logged WARN + silent whole-stage fallback to
    // interpreted eval. (Regression guard: a companion-object helper named
    // `eval` loses its static forwarder to Expression.eval and broke
    // exactly this way for MinHashSig.)
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String

    val strRef  = BoundReference(0, StringType, nullable = true)
    val dblsRef = BoundReference(0, ArrayType(DoubleType), nullable = true)
    val strsRef = BoundReference(0, ArrayType(StringType), nullable = true)
    val lngsRef = BoundReference(0, ArrayType(LongType), nullable = true)

    val polyProj = GenerateMutableProjection.generate(
      Seq(graft.functions.PolyHash(strRef)))
    val row = InternalRow(UTF8String.fromString("spark"))
    var acc = 0L
    "spark".foreach(c => acc = (acc * 131 + c) % 1000000007L)
    assert(polyProj(row).getLong(0) == acc)

    val dotProj = GenerateMutableProjection.generate(
      Seq(graft.functions.VecDot(dblsRef, dblsRef)))
    val vrow = InternalRow(new GenericArrayData(Array(2.0, 3.0)))
    assert(dotProj(vrow).getDouble(0) == 13.0)

    val shProj = GenerateMutableProjection.generate(
      Seq(graft.functions.ShingleHashes(strsRef)))
    val srow = InternalRow(new GenericArrayData(
      Array("a", "b", "c", "d").map(UTF8String.fromString)))
    assert(shProj(srow).getArray(0).numElements() == 2)

    val mhProj = GenerateMutableProjection.generate(
      Seq(graft.functions.MinHashSig(lngsRef)))
    val mrow = InternalRow(new GenericArrayData(Array(5L, 99L)))
    val sig = mhProj(mrow).getArray(0)
    assert(sig.numElements() == graft.functions.MinHashSig.NumHashes)
    // codegen path must agree with the interpreted helper
    val interp = graft.functions.MinHashSig
      .evalSig(new GenericArrayData(Array(5L, 99L)))
    assert((0 until sig.numElements())
      .forall(i => sig.getLong(i) == interp.getLong(i)))
  }

  test("levenshtein threshold rewrite: plan uses banded form, results exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    assert(spark.experimental.extraOptimizations.isEmpty) // injected, not overridden
    // parquet-backed input: ConvertToLocalRelation would fold a local
    // Seq through the filter before the rewrite is observable
    val docs = ops.Tables.documents(spark, sf)
      .select($"doc_id", substring($"text", 1, 20).as("a"),
        substring($"text", 21, 20).as("b"))
    // ground truth via a Project (no comparison → rule never fires)
    val dist = docs.select($"doc_id", levenshtein($"a", $"b").as("d"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    for (k <- Seq(0, 3, 15)) {
      val q = docs.filter(levenshtein($"a", $"b") <= k).select($"doc_id")
      val opt = q.queryExecution.optimizedPlan.toString
      // rewritten: three-arg levenshtein + the -1 guard
      assert(opt.contains(s"Some($k)") && opt.contains(">= 0"), opt)
      val got = q.as[Long].collect().toSet
      assert(got == dist.filter(_._2 <= k).keySet, s"k=$k")
    }
    // strict and reversed comparison forms rewrite too
    val strict = docs.filter(levenshtein($"a", $"b") < 15)
    assert(strict.queryExecution.optimizedPlan.toString.contains(">= 0"))
    assert(strict.count() == dist.count(_._2 < 15))
    val rev = docs.filter(lit(15) >= levenshtein($"a", $"b"))
    assert(rev.queryExecution.optimizedPlan.toString.contains(">= 0"))
    assert(rev.count() == dist.count(_._2 <= 15))
  }

  test("GraftSession is the only session builder under src/") {
    // split so this file does not match itself
    val builder = "SparkSession" + ".builder"
    val hits = Files.walk(Paths.get("src")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        Files.readString(p).contains(builder))
      .map(_.getFileName.toString).toSeq
    assert(hits == Seq("GraftSession.scala"), hits)
  }
}

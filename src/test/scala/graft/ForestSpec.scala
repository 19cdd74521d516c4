package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.core._

class ForestSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  private object CountingDef extends FeatureDef {
    val name = "counting"
    var calls = 0
    def transform(deps: Seq[DataFrame], params: Map[String, String]): DataFrame = {
      calls += 1
      deps.head
    }
  }

  test("content keys: stable, param- and dep-sensitive") {
    val src = Feature(SourceDef("s"))
    val a1 = Feature(BuiltinDefs.VolatilityDef, Map("ts" -> "t"), Seq(src))
    val a2 = Feature(BuiltinDefs.VolatilityDef, Map("ts" -> "t"), Seq(src))
    val b = Feature(BuiltinDefs.VolatilityDef, Map("ts" -> "u"), Seq(src))
    assert(a1.key == a2.key)
    assert(a1.key != b.key)
    assert(a1.key != src.key)
  }

  test("shared subtrees are built once (reference dedup semantics)") {
    CountingDef.calls = 0
    val src = Feature(SourceDef("s"))
    val shared = Feature(CountingDef, Map("p" -> "1"), Seq(src))
    val r1 = Feature(CountingDef, Map("p" -> "2"), Seq(shared))
    val r2 = Feature(CountingDef, Map("p" -> "3"), Seq(shared))
    val df = Seq((1L, 2.0)).toDF("ts_us", "v")
    val out = Forest.build(Seq(r1, r2), Map("s" -> df))
    assert(out.size == 2)
    // shared built once + two roots = 3 transform calls, not 4
    assert(CountingDef.calls == 3)
    // the shared node is `df` itself (CountingDef passes its dep through),
    // persisted by the build
    df.unpersist()
  }

  test("feature-store memoization: second build loads, doesn't recompute") {
    CountingDef.calls = 0
    val root = java.nio.file.Files.createTempDirectory("graft_memo").toString
    val cat = new graft.sources.BlockCatalog(spark, root)
    val src = Feature(SourceDef("s"))
    val feat = Feature(CountingDef, Map("p" -> "1"), Seq(src))
    val df = Seq((1704067200000000L, 2.0), (1704067201000000L, 3.0))
      .toDF("ts_us", "v")

    val first = Forest.buildMemoized(Seq(feat), Map("s" -> df), cat)(feat)
    assert(first.count() == 2)
    assert(CountingDef.calls == 1)

    val second = Forest.buildMemoized(Seq(feat), Map("s" -> df), cat)(feat)
    assert(second.count() == 2)
    assert(CountingDef.calls == 1) // served from the catalog, not recomputed
    assert(second.columns.sorted.toSeq == first.columns.sorted.toSeq)

    // a different param => different content key => fresh compute
    val feat2 = Feature(CountingDef, Map("p" -> "2"), Seq(src))
    Forest.buildMemoized(Seq(feat2), Map("s" -> df), cat)
    assert(CountingDef.calls == 2)
  }

  test("unbound source fails clearly") {
    val r = Feature(SourceDef("nope"))
    val e = intercept[IllegalArgumentException] {
      Forest.build(Seq(r), Map.empty)
    }
    assert(e.getMessage.contains("nope"))
  }
}

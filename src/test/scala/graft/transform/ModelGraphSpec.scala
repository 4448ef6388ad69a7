package graft.transform

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.tables.LakeCatalog

/** `run` (dbt run) executes each model's plan once, in its write;
  * `resolve` (what dbt test sees) reads the materialized relations and
  * writes nothing. */
class ModelGraphSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  /** A 100-row source whose every row evaluation bumps the accumulator. */
  private def countedSource(name: String) = {
    val evals = spark.sparkContext.longAccumulator(name)
    val rdd = spark.sparkContext.parallelize(1L to 100L, 2)
      .map { i => evals.add(1); Row(i, i % 3) }
    (spark.createDataFrame(rdd, Seq((0L, 0L)).toDF("id", "grp").schema), evals)
  }

  // a staging view, a table mart over it, and an incremental mart
  private val graph = new ModelGraph(Seq(
    Model("stg", Seq("src"), (_, r) => r("src").where(col("id") > 0)),
    Model("mart", Seq("stg"), (_, r) => r("stg").groupBy("grp").agg(count(lit(1)).as("n")),
      materialized = "table"),
    Model("inc", Seq("stg"), (_, r) => r("stg"), materialized = "incremental",
      uniqueKey = Seq("id"), incrementalBuild = Some((_, r, _) => r("stg")))))

  private def marts(df: Map[String, DataFrame]) =
    df("mart").orderBy("grp").as[(Long, Long)].collect().toSeq

  test("a table model's plan executes once per run") {
    val (src, evals) = countedSource("model_source_evals")
    val catalog = new LakeCatalog(tmpDir("mg_once"))
    val built = graph.run(spark, Map("src" -> src),
      catalog = Some((catalog, "wh", "ns")), targets = Seq("mart"))
    assert(evals.value == 100L, s"source rows evaluated ${evals.value} times, expected 100")
    assert(marts(built) == Seq((0L, 33L), (1L, 34L), (2L, 33L)))
  }

  test("resolve reads the materialized models and writes nothing") {
    val catalog = new LakeCatalog(tmpDir("mg_resolve"))
    val cat = (catalog, "wh", "ns")
    val (src0, _) = countedSource("model_source_evals_run")
    graph.run(spark, Map("src" -> src0), catalog = Some(cat))
    def versions = Seq("mart", "inc").map(catalog.loadTable(spark, "wh", "ns", _).version)
    val before = versions

    // tables come from storage: counting them never touches the source
    val (src, evals) = countedSource("model_source_evals_resolve")
    val resolved = graph.resolve(spark, Map("src" -> src), cat)
    assert(marts(resolved) == Seq((0L, 33L), (1L, 34L), (2L, 33L)))
    assert(resolved("inc").count() == 100)
    assert(evals.value == 0L)
    assert(versions == before)
    assert(resolved("stg").count() == 100) // views still build from sources
  }

  test("resolve builds not-yet-materialized models in memory") {
    val catalog = new LakeCatalog(tmpDir("mg_cold"))
    val (src, _) = countedSource("model_source_evals_cold")
    val resolved = graph.resolve(spark, Map("src" -> src), (catalog, "wh", "ns"))
    assert(marts(resolved) == Seq((0L, 33L), (1L, 34L), (2L, 33L)))
    assert(resolved("inc").count() == 100)
    assert(!catalog.tableExists("wh", "ns", "mart") && !catalog.tableExists("wh", "ns", "inc"))
  }
}

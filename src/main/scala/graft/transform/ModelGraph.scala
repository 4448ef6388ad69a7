package graft.transform

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.tables.{LakeCatalog, PartitionField, SortField}

/** dbt-style model DAG (Q28/Q29): each model is a function of its resolved
  * `ref()`s and `source()`s; the graph runs models in dependency order.
  * Staging models materialize as temp views; marts CTAS through the table
  * layer with partition specs — mirroring `dbt_project.yml:31-46` (views by
  * default, marts as tables, `on_table_exists='drop'` == replace).
  */
final case class Model(
    name: String,
    deps: Seq[String],
    build: (SparkSession, String => DataFrame) => DataFrame,
    materialized: String = "view", // view | table | incremental
    partitionSpec: Seq[PartitionField] = Nil,
    sortOrder: Seq[SortField] = Nil,
    schema: Option[String] = None, // dbt +schema override (marts per domain)
    // Incremental materialization (dbt's `materialized='incremental'`):
    // `incrementalBuild(spark, resolve, thisTable)` receives
    // Some(existing target contents) on incremental runs — the model
    // filters its sources against it (dbt's `{{ this }}` /
    // `is_incremental()`) and returns only the DELTA — or None on the
    // first run / full refresh, where it returns the full build. The
    // delta merges on `uniqueKey` (dbt merge strategy) through the
    // copy-on-write file-pruned merge, or appends when no key is set:
    // each scheduled run costs O(delta + touched files), never a mart
    // rebuild — the only materialization that survives a 100 TB mart.
    uniqueKey: Seq[String] = Nil,
    incrementalBuild: Option[(SparkSession, String => DataFrame, Option[DataFrame]) => DataFrame] = None)

final class ModelGraph(models: Seq[Model]) {
  private val byName = models.map(m => m.name -> m).toMap
  require(byName.size == models.size, "duplicate model names")

  /** Deps of a model by name; None if the name is a source, not a model. */
  def modelDeps(name: String): Option[Seq[String]] = byName.get(name).map(_.deps)

  /** Kahn topo order; cycles raise. */
  def topoOrder: Seq[String] = {
    val indeg = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    val out = scala.collection.mutable.Map[String, List[String]]().withDefaultValue(Nil)
    models.foreach { m =>
      m.deps.filter(byName.contains).foreach { d =>
        indeg(m.name) += 1
        out(d) = m.name :: out(d)
      }
      indeg.getOrElseUpdate(m.name, indeg(m.name))
    }
    val queue = scala.collection.mutable.Queue(
      models.map(_.name).filter(indeg(_) == 0).sorted: _*)
    val order = scala.collection.mutable.ListBuffer.empty[String]
    while (queue.nonEmpty) {
      val n = queue.dequeue()
      order += n
      out(n).sorted.foreach { m =>
        indeg(m) -= 1
        if (indeg(m) == 0) queue.enqueue(m)
      }
    }
    if (order.size != models.size)
      throw new IllegalStateException(
        s"Cycle in model graph involving: ${models.map(_.name).diff(order.toSeq)}")
    order.toSeq
  }

  /** Run every model in dependency order — `elt transform`, dbt run.
    * `sources` resolves `source()` names; refs resolve to already-built
    * models. A `sources` entry whose key names a MODEL splices a fixture in
    * place of that model (dbt unit-test style, reference
    * `transform/tests/fixtures/` SQL rows) — the model is not built. When a
    * catalog is given, `materialized="table"` models are replaced through
    * the table layer with their partition/sort specs and re-read from
    * storage (CTAS), and incremental models merge or append their delta;
    * each model's plan executes once, in its write. */
  def run(spark: SparkSession, sources: Map[String, DataFrame],
          catalog: Option[(LakeCatalog, String, String)] = None,
          targets: Seq[String] = Nil,
          fullRefresh: Boolean = false): Map[String, DataFrame] =
    walk(sources, targets) { (m, resolve) =>
      (m.materialized, catalog) match {
        case ("incremental", Some((cat, wh, ns))) =>
          val inc = incrementalBuildOf(m)
          val tgtNs = m.schema.getOrElse(ns)
          val existing =
            if (fullRefresh || !cat.tableExists(wh, tgtNs, m.name)) None
            else Some(cat.loadTable(spark, wh, tgtNs, m.name))
          existing match {
            case None => // first run / --full-refresh: complete build
              val df = inc(spark, resolve, None)
              val table = cat.ensureTable(spark, wh, tgtNs,
                m.name, df.schema, m.partitionSpec, m.sortOrder)
              table.write(df, "replace")
              table.read()
            case Some(table) =>
              val delta = inc(spark, resolve, Some(table.read()))
              if (m.uniqueKey.nonEmpty) table.write(delta, "merge", m.uniqueKey)
              else table.write(delta, "append")
              table.read()
          }
        case ("incremental", None) =>
          // a silent fall-through to the view case would full-rebuild via
          // m.build every run and ignore incrementalBuild entirely
          throw new IllegalStateException(
            s"Model '${m.name}' is materialized='incremental' but run() got " +
              "no catalog — incremental materialization needs a target table")
        case ("table", Some((cat, wh, ns))) =>
          val df = m.build(spark, resolve)
          val table = cat.ensureTable(spark, wh, m.schema.getOrElse(ns), m.name,
            df.schema, m.partitionSpec, m.sortOrder)
          table.write(df, "replace") // on_table_exists = 'drop'/'replace'
          table.read()
        case _ => view(spark, m, resolve)
      }
    }

  /** The models as `elt test` sees them — dbt test queries the relations
    * `dbt run` left in the warehouse — resolved WITHOUT writing anything.
    * Table and incremental models read the relation last materialized in
    * `catalog`; one not materialized yet is built in memory (an
    * incremental model as its full build). Views, fixture splices and the
    * `targets` selection behave as in [[run]]. */
  def resolve(spark: SparkSession, sources: Map[String, DataFrame],
              catalog: (LakeCatalog, String, String),
              targets: Seq[String] = Nil): Map[String, DataFrame] = {
    val (cat, wh, ns) = catalog
    walk(sources, targets) { (m, resolve) =>
      val tgtNs = m.schema.getOrElse(ns)
      m.materialized match {
        case "table" | "incremental" if cat.tableExists(wh, tgtNs, m.name) =>
          cat.loadTable(spark, wh, tgtNs, m.name).read()
        case "incremental" => incrementalBuildOf(m)(spark, resolve, None)
        case _ => view(spark, m, resolve)
      }
    }
  }

  /** The walk [[run]] and [[resolve]] share: the `targets` selection (dbt
    * --select: the transitive dependency closure; all models when empty)
    * in topo order, fixture splices, fail-fast on missing inputs, and
    * `materialize` for every other model. */
  private def walk(sources: Map[String, DataFrame], targets: Seq[String])(
      materialize: (Model, String => DataFrame) => DataFrame): Map[String, DataFrame] = {
    val built = scala.collection.mutable.Map.empty[String, DataFrame]
    def resolve(name: String): DataFrame =
      built.getOrElse(name, sources.getOrElse(name,
        throw new NoSuchElementException(s"Unknown ref/source: '$name'")))

    val selected: Set[String] =
      if (targets.isEmpty) byName.keySet.toSet
      else {
        val seen = scala.collection.mutable.Set.empty[String]
        def visit(n: String): Unit =
          if (byName.contains(n) && seen.add(n)) byName(n).deps.foreach(visit)
        targets.foreach(visit)
        seen.toSet
      }

    topoOrder.filter(selected.contains).foreach { name =>
      val m = byName(name)
      built(name) =
        if (sources.contains(name)) sources(name) // fixture splice
        else {
          m.deps.foreach(resolve) // fail fast on missing inputs
          materialize(m, resolve)
        }
    }
    built.toMap
  }

  private def view(spark: SparkSession, m: Model, resolve: String => DataFrame): DataFrame = {
    val df = m.build(spark, resolve)
    df.createOrReplaceTempView(s"graft_model_${m.name}")
    df
  }

  private def incrementalBuildOf(m: Model) = m.incrementalBuild.getOrElse(
    throw new IllegalStateException(
      s"Model '${m.name}' is materialized='incremental' but has no incrementalBuild"))
}

package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.analytics.OffQueries
import graft.ingest.Ingest
import graft.metrics.Metrics
import graft.pipeline.OffPipeline

/** The six OFF queries over a gold star, by name. */
object Off {
  def queries(g: String => DataFrame): Seq[(String, () => DataFrame)] = {
    def f = g("fact_nutrition_snapshot")
    def p = g("dim_product")
    Seq(
      "q1" -> (() => OffQueries.q1TopBrandsAbShare(f, p, g("dim_brand"))),
      "q2" -> (() => OffQueries.q2GradeByCategory(f, p, g("dim_category"))),
      "q3" -> (() => OffQueries.q3CountryCategorySugar(f, p, g("dim_category"))),
      "q4" -> (() => OffQueries.q4CompletenessByBrand(f, p, g("dim_brand"))),
      "q5" -> (() => OffQueries.q5Anomalies(f, p, g("dim_brand"))),
      "q6" -> (() => OffQueries.q6WeeklyCompleteness(f, g("dim_time"))))
  }

  /** Collected results as JSON: {"q1": {"columns": [...], "rows": [[...]]}}. */
  def dump(results: Map[String, (Seq[String], Array[Row])], path: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), Json(results.map {
      case (q, (cols, rows)) => q -> Map("columns" -> cols, "rows" -> rows.map(_.toSeq))
    }))

  /** Rows collected from a query, keyed by its column names. */
  def collect(df: DataFrame): (Seq[String], Array[Row]) = (df.columns.toSeq, df.collect())
}

/** `etl_onefile`: the paper's job on its input shape. One pass is
  * Bench's `pipeline_sec` span: bronze TSV scan → silver parquet →
  * the six gold tables (each written and read back by a benchmark-owned
  * `mat`) → run metrics → the six OFF queries, collected.
  */
final class Etl(spark: SparkSession, seed: Long, dir: String) extends Workload {
  /** 1/32 of the reference's 418,676 rows, keeping all 215 columns. */
  val rows: Long = OffGen.ReferenceRows / 32
  private val tsv = s"$dir/off_tsv"
  private val silverPath = s"$dir/silver"
  private def goldPath(t: String) = s"$dir/gold/$t"
  private var expected = -1L
  private val rowsOut = scala.collection.mutable.ArrayBuffer.empty[Long]
  private var last: Map[String, (Seq[String], Array[Row])] = Map.empty
  private val leaks = scala.collection.mutable.Map.empty[Int, (Int, Long)]

  def setup(tr: Trace): Unit = {
    OffGen.writeTsv(spark, rows, seed, tsv)
    expected = OffGen.expectedSilverRows(rows, seed)
    Main.log("input written")
    pass(tr)
    rowsOut.clear()
  }

  def pass(tr: Trace): Double = {
    val t0 = System.nanoTime()
    tr.span("pipeline.silver") {
      OffPipeline.silver(Ingest.bronzeCsv(spark, tsv)).write.mode("overwrite").parquet(silverPath)
    }
    val silver = spark.read.parquet(silverPath)
    val gold = OffPipeline.goldMaterialized(silver, (name, df) => {
      val short = if (name == "fact_nutrition_snapshot") "fact" else name
      tr.span(s"star.$short")(df.write.mode("overwrite").parquet(goldPath(name)))
      spark.read.parquet(goldPath(name))
    })
    val now = System.currentTimeMillis()
    val m = tr.span("metrics.compute")(Metrics.compute(silver, rows, now, now))
    last = Off.queries(gold).map { case (q, df) =>
      q -> tr.span(s"analytics.$q")(Off.collect(df()))
    }.toMap
    val wall = (System.nanoTime() - t0) / 1e9
    rowsOut += m.rowsOut
    leaks(tr.pass) = Leaks.sweep(spark)
    wall
  }

  override def layers(pass: Int): Map[String, Double] = Leaks.layers(leaks.get(pass))

  /** One pass still sits on the steep part of the JIT's warm-up; two
    * halve what that adds to the run-to-run spread. */
  override def minPasses: Int = 2

  def check(): Seq[(String, Boolean)] = {
    Off.dump(last, s"$dir/off_results.json")
    Seq(s"silver rows_out == $expected in every pass" -> rowsOut.forall(_ == expected))
  }

  override def facts: Map[String, Any] = Map("rows_in" -> rows, "expected_silver_rows" -> expected,
    "silver_dir" -> silverPath, "gold_dir" -> s"$dir/gold", "results" -> s"$dir/off_results.json")
}

/** Persisted RDDs an operation leaves behind, counted before the sweep
  * that releases them (`graft.CacheReset`). */
object Leaks {
  def sweep(spark: SparkSession): (Int, Long) = {
    val sc = spark.sparkContext
    val n = sc.getPersistentRDDs.size
    val bytes = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    graft.CacheReset(spark)
    (n, bytes)
  }

  def layers(l: Option[(Int, Long)]): Map[String, Double] = l.map { case (n, b) =>
    Map("materialize.leaked_rdds" -> n.toDouble, "materialize.leaked_bytes" -> b.toDouble)
  }.getOrElse(Map.empty)
}

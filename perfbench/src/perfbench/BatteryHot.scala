package perfbench

import org.apache.spark.sql.SparkSession

import graft.analytics.{Battery, Q}

/** `battery_hot`: the operator-battery queries ROADMAP names, over the
  * bundled sf0.01 tables, each forced through the noop sink with
  * `graft.CacheReset` between queries. The seed sets the query order.
  */
final class BatteryHot(spark: SparkSession, seed: Long, data: String, dir: String)
    extends Workload {
  private val queries: Seq[Q] = {
    val byShort = Battery.all.map(q => q.name.takeWhile(_ != '_') -> q).toMap
    val qs = BatteryHot.Queries.map(byShort)
    new scala.util.Random(seed).shuffle(qs)
  }
  private def short(q: Q) = q.name.takeWhile(_ != '_')
  private val leaked = scala.collection.mutable.Map.empty[(Int, String), (Int, Long)]

  def setup(tr: Trace): Unit = {
    // the warm pass keeps every result for the DuckDB oracle check
    queries.foreach { q =>
      graft.CacheReset(spark)
      q.run(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$dir/out/${q.name}")
    }
    graft.CacheReset(spark)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/out/oracle_sql.json"),
      Json(queries.flatMap(q => q.oracle.map(q.name -> _)).toMap))
  }

  def pass(tr: Trace): Double = queries.map { q =>
    val s = tr.span(s"battery.${short(q)}") {
      val t0 = System.nanoTime()
      q.run(spark, data).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    leaked((tr.pass, short(q))) = Leaks.sweep(spark)
    s
  }.sum

  override def layers(pass: Int): Map[String, Double] = {
    val l = BatteryHot.Queries.flatMap(q => leaked.get((pass, q)).map(q -> _)).toMap
    l.map { case (q, (n, _)) => s"battery.$q.leaked_rdds" -> n.toDouble } ++ Map(
      "materialize.leaked_rdds" -> l.values.map(_._1).sum.toDouble,
      "materialize.leaked_bytes" -> l.values.map(_._2).sum.toDouble)
  }

  def check(): Seq[(String, Boolean)] = Nil

  override def facts: Map[String, Any] = Map("out_dir" -> s"$dir/out", "data_dir" -> data)
}

object BatteryHot {
  /** Squeezed CPU stages (q29 simhash banding, q91 column profile,
    * q127 LM resampling, q146 media codec, q148 Fellegi-Sunter pair
    * blocking) and the materializing fixpoints (q87 PageRank, q136
    * k-core). ROADMAP's list also names q47, q90 and q140 (further
    * squeezed stages, q140 the same linkage family as q148) and the
    * 111-job matview DAG q194; they are left out because every query
    * costs its cold first run in each process, and q194 alone takes
    * about 15 s per process. */
  val Queries: Seq[String] = Seq("q29", "q87", "q91", "q127", "q136", "q146", "q148")
}

package perfbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.store.Manifest

/** `gold_serve`: an analyst loop over a gold star kept in
  * `graft.store.Manifest` tables. One pass (cycle) upserts one seeded
  * nutrient-correction batch into the fact on `product_sk`, then runs the
  * six OFF queries on fresh `Manifest.table` reads, collected.
  */
final class Serve(spark: SparkSession, seed: Long, dir: String) extends Workload {
  /** Products in the star: 1/8 of the reference's 418,676. */
  val products: Long = OffGen.ReferenceRows / 8
  /** Share of the products one batch corrects, keys spread uniformly. */
  val batchShare = 0.005
  private val FactT = "fact_nutrition_snapshot"
  private def root(t: String) = s"$dir/store/$t"
  private var cycle = 0
  private var last: Map[String, (Seq[String], Array[Row])] = Map.empty
  private val store = scala.collection.mutable.Map.empty[Int, Map[String, Double]]
  private val leaks = scala.collection.mutable.Map.empty[Int, (Int, Long)]
  private var baseVersion = 0L
  /** A cycle is short; the median of three steadies `pass_s`. */
  override def minPasses: Int = 3

  def setup(tr: Trace): Unit = {
    StarGen.tables(spark, products, seed).foreach { case (name, df) =>
      Manifest.overwrite(df, root(name),
        statsCols = if (name == FactT) Seq("product_sk") else Nil)
    }
    baseVersion = Manifest.current(spark, root(FactT)).get.version
    Main.log("gold stored")
    pass(tr)
  }

  /** Batch `c`: `batchShare` of the products, distinct keys drawn
    * uniformly, with sugars, salt and fat replaced by seeded values;
    * every other column keeps its base value. Written to parquet so the
    * check can replay it. */
  private def batch(c: Int): String = {
    val k = math.max(1, math.round(products * batchShare)).toInt
    val rnd = new java.util.Random(seed * 1000003L + c)
    val keys = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (keys.size < k) keys += 1L + (rnd.nextDouble() * products).toLong
    import spark.implicits._
    val corr = keys.toSeq.map { sk =>
      (sk, rnd.nextInt(1000) / 10.0, rnd.nextInt(300) / 10.0, rnd.nextInt(1000) / 10.0)
    }.toDF("product_sk", "c_sugars", "c_salt", "c_fat")
    val fact = Manifest.tableAsOf(spark, root(FactT), baseVersion)
    val out = fact.join(broadcast(corr), "product_sk")
      .select(fact.columns.map {
        case "sugars_100g" => col("c_sugars").as("sugars_100g")
        case "salt_100g" => col("c_salt").as("salt_100g")
        case "fat_100g" => col("c_fat").as("fat_100g")
        case other => col(other)
      }: _*)
    val path = f"$dir/batches/b$c%04d"
    out.coalesce(1).write.mode("overwrite").parquet(path)
    path
  }

  /** One cycle: the correction, then the six reads that must see it. */
  def pass(tr: Trace): Double = {
    val path = batch(cycle)
    cycle += 1
    val before = Manifest.current(spark, root(FactT)).get
    val t0 = System.nanoTime()
    tr.span("store.upsert")(Manifest.upsert(spark.read.parquet(path), root(FactT), "product_sk"))
    val t1 = System.nanoTime()
    val after = Manifest.current(spark, root(FactT)).get
    // traced: resolve timed on its own (each read below resolves again)
    if (tr.isOn) tr.span("store.resolve")(Manifest.current(spark, root(FactT)))
    val t2 = System.nanoTime()
    last = Off.queries(t => Manifest.table(spark, root(t))).map { case (q, df) =>
      q -> tr.span(s"analytics.$q")(Off.collect(df()))
    }.toMap
    val wall = (t1 - t0 + System.nanoTime() - t2) / 1e9
    if (tr.isOn) store(tr.pass) = storeLayers(before, after, path)
    leaks(tr.pass) = Leaks.sweep(spark)
    wall
  }

  private def storeLayers(before: Manifest.Snapshot, after: Manifest.Snapshot,
      batchPath: String): Map[String, Double] = {
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    def bytesUnder(p: String) = fs.getContentSummary(new Path(p)).getLength.toDouble
    val added = after.files.filterNot(before.files.toSet)
    val addedBytes = added.map(f => after.bytes.getOrElse(f, 0L)).sum.toDouble
    val live = after.files.map(f => after.bytes.getOrElse(f, 0L)).sum.toDouble
    // read side: the snapshot this cycle's reads scan
    Map(
      "store.fact_files" -> after.files.size.toDouble,
      "store.chain_len" -> after.chainLen.toDouble,
      "store.fact_scan_tasks" ->
        Manifest.readSnapshot(spark, root(FactT), after).rdd.getNumPartitions.toDouble,
      "store.upsert_files_rewritten" -> before.files.count(f => !after.files.contains(f)).toDouble,
      "store.upsert_write_amp" -> addedBytes / bytesUnder(batchPath),
      "store.disk_bytes_per_live_byte" -> bytesUnder(s"${root(FactT)}/data") / live)
  }

  override def layers(pass: Int): Map[String, Double] =
    store.getOrElse(pass, Map.empty) ++ Leaks.layers(leaks.get(pass))

  /** The fact and dims as the check must see them: the data files of a
    * snapshot. */
  private def files(t: String, version: Option[Long] = None): Seq[String] = {
    val snap = version.fold(Manifest.current(spark, root(t)).get)(Manifest.snapshot(spark, root(t), _))
    snap.files.map(f => new Path(s"${root(t)}/data", f).toUri.getPath)
  }

  def check(): Seq[(String, Boolean)] = {
    Off.dump(last, s"$dir/off_results.json")
    Nil
  }

  override def facts: Map[String, Any] = Map("products" -> products, "batches" -> cycle,
    "batch_dir" -> s"$dir/batches", "results" -> s"$dir/off_results.json",
    "base_files" -> files(FactT, Some(baseVersion)), "final_files" -> files(FactT),
    "dim_files" -> Seq("dim_product", "dim_brand", "dim_category", "dim_time").map(t => t -> files(t)).toMap)
}

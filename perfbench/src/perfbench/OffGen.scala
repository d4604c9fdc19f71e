package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded single-file Open Food Facts TSV, in the shape of
  * `graft.bench.OffTsvGen` (215 string columns: 17 the pipeline keeps,
  * 198 fillers it must still parse). Seed 0 reproduces
  * `OffTsvGen.df(spark, rows)` row for row; any other seed moves the
  * duplicate-code, empty-code and "null"-code rows to other phases and
  * shifts every value column, so a seed changes contents but not size.
  */
object OffGen {

  val ReferenceRows: Long = 418676L

  /** Row-shape phases: row `i` is a duplicate of row `i - 1` (older
    * timestamp) when `i % 16000 == dupPhase`, has an empty code when
    * `i % 40000 == emptyPhase`, and the literal code "null" when
    * `i % 40000 == nullPhase`. Value columns read index `i + shift`. */
  final case class Shape(shift: Long, dupPhase: Long, emptyPhase: Long, nullPhase: Long)

  def shape(seed: Long): Shape =
    if (seed == 0) Shape(0, 15999, 39998, 19998)
    else {
      val r = new java.util.Random(seed)
      val empty = r.nextInt(40000).toLong
      var nul = r.nextInt(40000).toLong
      while (nul == empty) nul = r.nextInt(40000).toLong
      Shape(1 + r.nextInt(1000000), 1 + r.nextInt(15999), empty, nul)
    }

  def df(spark: SparkSession, rows: Long, seed: Long): DataFrame = {
    val s = shape(seed)
    val i = col("id")
    val v = i + lit(s.shift)
    val names = Seq("Côte d'Or™ Chocolat", "Muesli Croustillant", "Jus d'Orange Bio",
      "Fromage à Pâte Molle", "Galletas María", "Späzle Natur", "Crème Brûlée", "Pain Complet")
    val countries = Seq("France", "France, Belgium", "Spain", "Germany, Austria",
      "undefined", "Italy", "n/a")
    val grades = Seq("a", "b", "c", "d", "e", "unknown", "a", "b", "none", "c", "")
    def pick(vals: Seq[String], m: Int): Column =
      element_at(array(vals.map(lit): _*), (v % m).cast("int") + 1)

    val isDup = i % 16000 === s.dupPhase
    val baseId = when(isDup, i - 1).otherwise(i)
    val code = when(i % 40000 === s.emptyPhase, lit(""))
      .when(i % 40000 === s.nullPhase, lit("null"))
      .otherwise(lpad(baseId.cast("string"), 13, "0"))
    val ts = lit(1600000000L) + ((baseId + lit(s.shift)) % 80000000L) * 2 -
      when(isDup, 1000L).otherwise(0L)

    val core = Seq(
      code.as("code"),
      concat(pick(names, 8), lit(" No "), (v % 97).cast("string")).as("product_name"),
      concat(lit("Brand "), (v % 5000).cast("string")).as("brands"),
      concat(lit("en:cat-"), (v % 200).cast("string"), lit("-style")).as("main_category"),
      concat(lit("Category "), (v % 200).cast("string")).as("categories_en"),
      pick(countries, 7).as("countries_en"),
      ts.cast("string").as("last_modified_t"),
      pick(grades, 11).as("nutriscore_grade"),
      (v % 1200).cast("string").as("energy-kcal_100g"),
      (v % 120).cast("string").as("fat_100g"),
      (v % 90).cast("string").as("saturated-fat_100g"),
      (v % 120).cast("string").as("sugars_100g"),
      when(v % 3 === 0, lit("")).otherwise((v % 50).cast("string")).as("salt_100g"),
      (v % 110).cast("string").as("proteins_100g"),
      (v % 60).cast("string").as("fiber_100g"),
      when(v % 3 === 0, (v % 30).cast("string")).otherwise(lit("")).as("sodium_100g"),
      (v % 2).cast("string").as("completeness"))
    val fillers = (1 to 198).map(n => lit(s"f$n").as(s"extra_col_$n"))
    spark.range(rows).select(core ++ fillers: _*)
  }

  /** Writes the TSV as ONE file under `dir` (the reference's input is a
    * single dump, which pins the multiLine bronze parse to one task). */
  def writeTsv(spark: SparkSession, rows: Long, seed: Long, dir: String): Unit =
    df(spark, rows, seed).coalesce(1).write.mode("overwrite")
      .option("sep", "\t").option("header", "true").csv(dir)

  /** Silver rows the pipeline must keep: the distinct valid codes. A
    * duplicate row only adds a code when its original holds an invalid
    * one. Seed 0 at the reference size gives 418,635. */
  def expectedSilverRows(rows: Long, seed: Long): Long = {
    val s = shape(seed)
    def invalid(i: Long) = { val m = i % 40000; m == s.emptyPhase || m == s.nullPhase }
    var n = 0L
    var i = 0L
    while (i < rows) {
      if (!invalid(i) && (i % 16000 != s.dupPhase || invalid(i - 1))) n += 1
      i += 1
    }
    n
  }
}

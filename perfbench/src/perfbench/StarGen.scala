package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.star.Star

/** Seeded gold star in the pipeline's gold schema (the tables
  * `OffPipeline.goldMaterialized` returns), generated directly so the
  * serving workload pays no pipeline at set-up. Every foreign key
  * resolves, so all six OFF queries join real rows.
  */
object StarGen {
  val Brands = 5000
  val Categories = 200

  def tables(spark: SparkSession, products: Long, seed: Long): Seq[(String, DataFrame)] = {
    val sk = col("id") + 1
    /** A seeded value in [0, m) per product and column tag. */
    def h(tag: Int, m: Int): Column = pmod(xxhash64(sk, lit(seed), lit(tag)), lit(m.toLong))
    def maybe(tag: Int, nullPct: Int, v: Column): Column = when(h(tag, 100) >= nullPct, v)

    val countries = Seq(Seq("france"), Seq("france", "belgium"), Seq("spain"),
      Seq("germany", "austria"), Seq("italy"), Seq("pays inconue"))
    val product = spark.range(products).select(
      sk.as("product_sk"),
      lpad(sk.cast("string"), 13, "0").as("code"),
      concat(lit("product "), h(1, 97).cast("string")).as("product_name"),
      maybe(2, 2, h(3, Brands) + 1).as("brand_sk"),
      maybe(4, 2, h(5, Categories) + 1).as("primary_category_sk"),
      element_at(array(countries.map(c => array(c.map(lit): _*)): _*),
        (h(6, countries.size) + 1).cast("int")).as("countries_multi_name"))

    val nutrient = Seq("energy_kcal_100g" -> 10000, "fat_100g" -> 1000,
      "saturated_fat_100g" -> 1000, "sugars_100g" -> 1000, "salt_100g" -> 300,
      "proteins_100g" -> 1000, "fiber_100g" -> 600, "sodium_100g" -> 300)
    val fact = spark.range(products).select(
      Seq(sk.as("product_sk"),
        (lit(1600000000L) + h(7, 40000000) * 2).as("time_sk")) ++
      nutrient.zipWithIndex.map { case ((c, m), i) =>
        maybe(20 + i, 10, h(40 + i, m) / 10.0).as(c)
      } ++
      Seq(maybe(8, 5, element_at(array(Seq("A", "B", "C", "D", "E").map(lit): _*),
          (h(9, 5) + 1).cast("int"))).as("nutriscore_grade"),
        (h(10, 3) / 2.0).as("completeness_score")): _*)

    val brand = spark.range(Brands).select((col("id") + 1).as("brand_sk"),
      concat(lit("brand "), col("id").cast("string")).as("brand_name"))
    val category = spark.range(Categories).select((col("id") + 1).as("category_sk"),
      concat(lit("category "), col("id").cast("string")).as("category_name"),
      concat(lit("cat "), (col("id") % 12).cast("string")).as("parent_category_sk"))
    val time = Star.dimTime(fact.select(col("time_sk").as("last_modified_t")))
    val country = Star.dimCountry(product.select(col("countries_multi_name").as("countries_en")))
    Seq("dim_time" -> time, "dim_brand" -> brand, "dim_category" -> category,
      "dim_country" -> country, "dim_product" -> product, "fact_nutrition_snapshot" -> fact)
  }
}

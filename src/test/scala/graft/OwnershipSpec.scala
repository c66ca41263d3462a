package graft

import graft.ops.Ownership
import org.apache.spark.sql.functions._

/** G4 ownership split — incl. the SURVEY §5 capacity-conservation
  * property: under EqualShareDefault, per-row allocated capacity sums
  * back to the source capacity exactly (shares partition 1.0) whenever
  * every owner token either carries a share or none does.
  */
class OwnershipSpec extends SparkSpec {
  import spark.implicits._

  private def src = Seq(
    ("u1", "A [60%]; B [40%]", 100.0),
    ("u2", "C", 80.0),
    ("u3", "D; E; F", 90.0),
    ("u4", null.asInstanceOf[String], 50.0),
    ("u5", "G [30%]; H", 200.0)
  ).toDF("unit", "Owner", "cap")

  test("equal-share default conserves capacity when shares are complete or absent") {
    val out = Ownership.split("Owner", "cap", Ownership.EqualShareDefault)(src)
      .groupBy("unit").agg(sum("Capacity_allocated").as("total"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(out("u1") - 100.0) < 1e-9) // explicit shares
    assert(math.abs(out("u2") - 80.0) < 1e-9)  // single owner, no share → 1/1
    assert(math.abs(out("u3") - 90.0) < 1e-9)  // three owners → 1/3 each
    assert(math.abs(out("u4") - 50.0) < 1e-9)  // null owner kept, share 1/1
  }

  test("strict mode preserves the reference's null-allocation quirk") {
    val out = Ownership.split("Owner", "cap", Ownership.Strict)(src)
    val h = out.filter(col("Company") === "H").select("Capacity_allocated").collect()
    assert(h.length == 1 && h.head.isNullAt(0)) // no [NN%] → null, capacity silently lost
    val g = out.filter(col("Company") === "G").select("Capacity_allocated")
      .collect().head.getDouble(0)
    assert(math.abs(g - 60.0) < 1e-9)
  }

  test("null owners keep their rows (explode_outer, R separate_rows parity)") {
    val out = Ownership.split("Owner", "cap", Ownership.EqualShareDefault)(src)
    assert(out.filter(col("unit") === "u4").count() == 1)
    assert(out.filter(col("unit") === "u4").select("Company").collect().head.isNullAt(0))
  }

  test("q22 sums allocations exactly: three 500.005 shares round to 1500.02") {
    val dir = java.nio.file.Files.createTempDirectory("q22-tie").toString
    Seq((1L, 3, 1000.01, "Brand#1", "STEEL"), (2L, 3, 1000.01, "Brand#1", "STEEL"),
        (3L, 3, 1000.01, "Brand#1", "STEEL"))
      .toDF("p_partkey", "p_size", "p_retailprice", "p_brand", "p_type")
      .coalesce(1).write.parquet(s"$dir/part.parquet")
    val out = SparkEntry.queries("q22_ownership_split")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // double sum: 1500.0149999... -> 1500.01; exact HALF_UP: 1500.02
    assert(out == Map("Brand#1" -> 1500.02, "STEEL" -> 1500.02))
  }
}

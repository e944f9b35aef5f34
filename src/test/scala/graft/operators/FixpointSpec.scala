package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class FixpointSpec extends SparkSpec {

  private def cutIds(site: String): Set[Int] =
    spark.sparkContext.getPersistentRDDs.collect {
      case (id, r) if r.name == Lineage.Prefix + site => id
    }.toSet

  test("iterate cuts after every second round but the last, and never re-cuts a cut") {
    val init = spark.range(0, 10, 1, 2).toDF("x")
    val out = Fixpoint.iterate(init, 5, "FixpointSpec.plus") { (s, _) =>
      s.select((col("x") + 1).as("x"))
    }
    cutIds("FixpointSpec.plus") should have size 2 // after rounds 2 and 4
    out.as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().sorted shouldBe
      (5L until 15L).toArray
    // a step that returns its (cut) input leaves nothing to cut
    val c = Lineage.cut(init, "FixpointSpec.input")
    Fixpoint.iterate(c, 4, "FixpointSpec.same")((s, _) => s) should be theSameInstanceAs c
    cutIds("FixpointSpec.same") shouldBe empty
  }

  test("converge stops on a repeated signature and reports the rounds it ran") {
    // x -> min(x + 1, 3): the state stops changing after round 3, which
    // the second stride (rounds 3 and 4) sees
    val init = spark.range(0, 1, 1, 1).toDF("x")
    val (out, rounds) = Fixpoint.converge(init, 20, "FixpointSpec.capped")(
        _.agg(max(col("x")))) { (s, _) =>
      s.select(least(col("x") + 1, lit(3L)).as("x"))
    }
    rounds shouldBe 4
    out.collect().map(_.getLong(0)) shouldBe Array(3L)
    cutIds("FixpointSpec.capped") should have size 1 // the older ones are released
    // the budget bounds an unconverged loop; zero rounds return the input
    Fixpoint.converge(init, 3, "FixpointSpec.budget")(_.agg(max(col("x")))) {
      (s, _) => s.select((col("x") + 1).as("x"))
    }._2 shouldBe 3
    Fixpoint.converge(init, 0, "FixpointSpec.none")(_.agg(max(col("x")))) {
      (s, _) => s
    }._2 shouldBe 0
  }
}

package graft

import scala.collection.mutable.ArrayBuffer

/** The battery harness's pass: sorted order, per-row failure, and the
  * subset check — over a fake three-row battery of tiny range frames.
  */
class RunnerSpec extends SparkSpec {

  private val battery: Runner.Battery = Map(
    "c_row" -> ((s, _) => s.range(3).toDF()),
    "b_row" -> ((_, _) => throw new IllegalStateException("b_row broke")),
    "a_row" -> ((s, _) => s.range(2).toDF()))

  test("pass runs rows in sorted order; a throwing row fails alone") {
    val acted = ArrayBuffer.empty[(String, Long)]
    val out = Runner.pass(spark, sf, None, battery) { (name, df) =>
      acted += name -> df.count()
    }
    assert(out.map(_._1) == Seq("a_row", "b_row", "c_row"))
    assert(acted.toSeq == Seq("a_row" -> 2L, "c_row" -> 3L))
    assert(out(1)._2.left.toOption.map(_.getMessage).contains("b_row broke"))
    assert(Seq(out(0), out(2)).forall(_._2.exists(_ >= 0.0)))
    assert(Runner.failures("spec", out) == Seq("b_row"))
  }

  test("pass runs a subset in sorted order and rejects unknown or empty ones") {
    val acted = ArrayBuffer.empty[String]
    Runner.pass(spark, sf, Some(Seq("c_row", "a_row")), battery) { (name, _) =>
      acted += name; ()
    }
    assert(acted.toSeq == Seq("a_row", "c_row"))
    intercept[IllegalArgumentException](
      Runner.pass(spark, sf, Some(Seq("a_row", "nope")), battery)((_, _) => ()))
    intercept[IllegalArgumentException](
      Runner.pass(spark, sf, Some(Nil), battery)((_, _) => ()))
  }
}

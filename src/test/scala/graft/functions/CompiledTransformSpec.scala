package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** `CompiledTransform` against Spark's own `transform`: same rows for
  * bodies that read outer columns, return structs, see null elements and
  * null arrays, and for a child the optimizer folds to a literal. */
class CompiledTransformSpec extends SparkSpec {
  import spark.implicits._

  test("CompiledTransform equals transform, outer columns and nulls included") {
    val df = Seq[(Option[Seq[String]], Int)](
      (Some(Seq("a", null, "bc")), 1),
      (Some(Nil), 2),
      (None, 3),
      (Some(Seq("x:y:z", "", "q")), 4)).toDF("xs", "k")
    val bodies: Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column] = Seq(
      x => concat(x, $"k".cast("string")),
      x => struct(length(x).as("n"), (size(split(x, ":")) + $"k").as("m"),
        when(x.isNull, lit("null")).otherwise(upper(x)).as("u")),
      x => element_at(split(x, ":"), $"k"))
    bodies.zipWithIndex.foreach { case (f, i) =>
      val want = df.select($"k", transform($"xs", f).as("r")).orderBy($"k").collect()
      val got = df.select($"k", CompiledTransform($"xs", f).as("r")).orderBy($"k").collect()
      assert(got.toSeq == want.toSeq, s"body $i")
    }
    val lit3 = df.select(CompiledTransform(array(lit("p"), lit("q")), x => upper(x)).as("r"))
      .collect().map(_.getSeq[String](0))
    assert(lit3.forall(_ == Seq("P", "Q")))
  }
}

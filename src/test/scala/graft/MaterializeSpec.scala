package graft

import graft.operators.Materialize
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one materialization primitive under both checkpoint postures:
  * [[Materialize.observed]]'s aggregates ride the materialization job and
  * equal the explicit aggregates over the frame it returns — an empty
  * frame included, where count is 0 and min/max are null — and the
  * reliable posture writes the frame under the configured root.
  */
class MaterializeSpec extends SparkSpec {

  private def rddDirsUnder(dir: String): Long = {
    val s = Files.walk(Paths.get(dir))
    try s.filter(p => p.getFileName.toString.startsWith("rdd-")).count()
    finally s.close()
  }

  private def checkObserved(df: DataFrame): Unit = {
    val aggs = Seq(count(lit(1)).as("n"), min("v").as("lo"), max("v").as("hi"),
      count_if(col("v") % 3 === 0).as("n3"))
    val (ck, seen) = Materialize.observed(df, aggs: _*)
    val r = ck.agg(aggs.head, aggs.tail: _*).head()
    assert(seen === r.getValuesMap[Any](r.schema.fieldNames))
    assert(ck.count() === df.count())
  }

  private val frames = Seq(
    "nonempty" -> (() => spark.range(0, 1000, 1, 4).select((col("id") * 7 % 501).as("v"))),
    "empty" -> (() => spark.range(0, 1000, 1, 4).select(col("id").as("v")).filter(lit(false))))

  for ((name, f) <- frames) {
    test(s"observed aggregates equal explicit ones under localCheckpoint: $name") {
      assert(Materialize.checkpointDir(spark).isEmpty)
      checkObserved(f())
    }

    test(s"observed aggregates equal explicit ones under reliable checkpoints: $name") {
      val dir = Files.createTempDirectory("graft-materialize").toString
      spark.conf.set(Materialize.DirKey, dir)
      try {
        checkObserved(f())
        assert(rddDirsUnder(dir) > 0,
          "the reliable posture must write the frame under the configured root")
      } finally spark.conf.unset(Materialize.DirKey)
    }
  }

  test("an empty frame observes count 0 and null min/max") {
    val (_, seen) = Materialize.observed(frames(1)._2(),
      count(lit(1)).as("n"), min("v").as("lo"), max("v").as("hi"))
    assert(seen === Map("n" -> 0L, "lo" -> null, "hi" -> null))
  }
}

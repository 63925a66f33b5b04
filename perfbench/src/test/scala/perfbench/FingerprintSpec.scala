package perfbench

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = graft.GraftSession.local(2)
  override def afterAll(): Unit = spark.stop()

  private def frame = {
    import spark.implicits._
    (1 to 200).map(i => (i.toLong, s"t$i", i * 0.25, Map(s"k$i" -> i, "z" -> -i))).toDF("id", "text", "x", "m")
  }

  test("the fingerprint ignores row order, partitioning and column order") {
    val base = Fingerprint.of(frame)
    assert(base.rows == 200)
    assert(Fingerprint.of(frame.orderBy(desc("id"))) == base)
    assert(Fingerprint.of(frame.repartition(7)) == base)
    assert(Fingerprint.of(frame.select("m", "x", "text", "id")) == base)
  }

  test("the fingerprint changes with any cell, row or column name") {
    val base = Fingerprint.of(frame)
    assert(Fingerprint.of(frame.withColumn("x", when(col("id") === 17, 0.5).otherwise(col("x")))) != base)
    assert(Fingerprint.of(frame.filter(col("id") =!= 3)) != base)
    assert(Fingerprint.of(frame.union(frame.limit(1))) != base)
    assert(Fingerprint.of(frame.withColumnRenamed("text", "body")).hash != base.hash)
  }
}

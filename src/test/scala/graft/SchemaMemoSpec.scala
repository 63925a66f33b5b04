package graft

import java.nio.file.Files
import org.apache.spark.sql.types._
import graft.sources.Artifacts

/** Pins `Tables.read`'s per-session schema memo: a changed file set or a
  * changed schema-affecting conf is a miss that re-infers, and an
  * unchanged one is a hit that declares without running a Spark job.
  */
class SchemaMemoSpec extends SparkSpec {

  private def tmpTable(): String =
    Files.createTempDirectory("graft_memo").resolve("t.parquet").toString

  test("a rewrite with a different column set is a miss that returns the new schema") {
    import spark.implicits._
    val path = tmpTable()
    Seq((1L, "a"), (2L, "b")).toDF("k", "s").write.parquet(path)
    assert(Tables.read(spark, path).columns.toSeq == Seq("k", "s"))
    val (h0, m0) = Tables.schemaMemoStats(spark)
    assert(Tables.read(spark, path).columns.toSeq == Seq("k", "s"))
    assert(Tables.schemaMemoStats(spark) == ((h0 + 1, m0)), "an unchanged table must hit")
    Seq((1L, 2.5, true)).toDF("k", "x", "flag").write.mode("overwrite").parquet(path)
    val after = Tables.read(spark, path)
    assert(after.columns.toSeq == Seq("k", "x", "flag"), s"stale schema served: ${after.schema}")
    assert(Tables.schemaMemoStats(spark) == ((h0 + 1, m0 + 1)), "a rewritten table must miss")
    assert(after.collect().map(_.toSeq).toSeq == Seq(Seq(1L, 2.5, true)))
  }

  test("a rewrite with the same columns and different rows returns the new rows") {
    import spark.implicits._
    val path = tmpTable()
    Seq((1L, "a"), (2L, "b")).toDF("k", "s").write.parquet(path)
    assert(Tables.read(spark, path).count() == 2L)
    Seq((7L, "x"), (8L, "y"), (9L, "z")).toDF("k", "s").write.mode("overwrite").parquet(path)
    val rows = Tables.read(spark, path).orderBy("k").collect().map(r => r.getLong(0) -> r.getString(1))
    assert(rows.toSeq == Seq(7L -> "x", 8L -> "y", 9L -> "z"))
  }

  test("flipping spark.sql.parquet.binaryAsString misses and re-infers the binary column") {
    // Spark stores its own schema in the footer, which overrides
    // binaryAsString; the conf only acts on files from other writers,
    // so this file is written with the bare parquet-mr example writer.
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val path = tmpTable()
    val conf = spark.sparkContext.hadoopConfiguration
    val file = new org.apache.hadoop.fs.Path(path, "part-0.parquet")
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 k; required binary b; }")
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(file, conf))
      .withType(schema).withConf(conf).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup().append("k", 1L).append("b", "hello"))
    finally writer.close()
    val key = "spark.sql.parquet.binaryAsString"
    assert(!spark.conf.getOption(key).contains("true"))
    assert(Tables.read(spark, path).schema("b").dataType == BinaryType)
    val (h0, m0) = Tables.schemaMemoStats(spark)
    spark.conf.set(key, "true")
    try {
      val df = Tables.read(spark, path)
      assert(Tables.schemaMemoStats(spark) == ((h0, m0 + 1)), "a conf flip must miss")
      assert(df.schema("b").dataType == StringType)
      assert(df.collect().map(_.getString(1)).toSeq == Seq("hello"))
    } finally spark.conf.unset(key)
    assert(Tables.read(spark, path).schema("b").dataType == BinaryType,
      "unsetting the conf must miss again, not serve the string schema")
  }

  test("a second declaration of every loader and of a committed artifact runs no Spark job") {
    import spark.implicits._
    val loaders = Seq[(org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame](
      Tables.region, Tables.nation, Tables.customer, Tables.supplier, Tables.part, Tables.orders,
      Tables.lineitem, Tables.events, Tables.documents, Tables.embeddings)
    val root = Files.createTempDirectory("graft_memo_art").toString
    def artifact() = Artifacts.publishedOrCompute(
      spark, "memo_tbl", "v1", Seq(s"$sfDir/region.parquet"))((1L to 10L).toDF("k"))
    spark.conf.set("spark.graft.artifacts", root)
    try {
      loaders.foreach(_(spark, sfDir))
      assert(artifact().count() == 10L) // publish, then a committed read
      val (h0, m0) = Tables.schemaMemoStats(spark)
      val jobs = jobsDuring { loaders.foreach(_(spark, sfDir)); artifact() }
      assert(jobs == 0, s"second declaration ran $jobs Spark jobs")
      assert(Tables.schemaMemoStats(spark) == ((h0 + loaders.size + 1, m0)))
      assert(artifact().agg(org.apache.spark.sql.functions.sum("k")).first().getLong(0) == 55L)
    } finally spark.conf.unset("spark.graft.artifacts")
  }

  test("the memo is per session: a new session infers again") {
    val other = spark.newSession()
    Tables.region(spark, sfDir)
    assert(Tables.schemaMemoStats(other) == ((0L, 0L)))
    assert(jobsDuring(Tables.region(other, sfDir)) > 0, "a new session must not reuse the memo")
    assert(Tables.schemaMemoStats(other) == ((0L, 1L)))
  }
}

package graft

import java.nio.file.Files
import graft.dedup.Dedup
import graft.tools.ScaleBench
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods.parse

/** The isolated-measurement harness on the shared session: one timed
  * pass, no warmup, of the jaccard-prefix mine. Its executed-plan walk
  * must reproduce the candidate volumes counted directly from the same
  * operators, and an override that cannot be set must show in the
  * output rather than vanish.
  *
  * The corpus is sf0.001's documents plus, for every tenth doc, a copy
  * with the next doc's text appended. The copy shares the doc's prefix
  * shingles at about twice its length, so PPJoin's length filter prunes
  * collisions here, which it does not on sf0.001 alone.
  */
class ScaleBenchSpec extends SparkSpec {
  private val q = "q_dedup_jaccard_prefix"

  private lazy val dir = {
    val d = Files.createTempDirectory("graft_scalebench").toString
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val next = docs.select((col("doc_id") - 1).as("doc_id"), col("text").as("next"))
    docs.filter(col("doc_id") % 10 === 0).join(next, "doc_id")
      .select((col("doc_id") + 1000000000L).as("doc_id"), concat_ws(" ", col("text"), col("next")).as("text"))
      .unionByName(docs)
      .write.parquet(s"$d/documents.parquet")
    d
  }
  private lazy val partitions = spark.conf.get("spark.sql.shuffle.partitions")
  private lazy val out: JValue = parse(ScaleBench.run(
    spark, dir, Seq(q),
    Seq("spark.sql.shuffle.partitions" -> partitions, "spark.sql.extensions" -> "none.Such"),
    timedPasses = 1, warmup = false))
  private def profile = out \ "profile" \ q
  private def nodes: List[Map[String, Any]] =
    (profile \ "nodes").values.asInstanceOf[List[Map[String, Any]]]
  private def rows(pick: Map[String, Any] => Boolean): Set[BigInt] =
    nodes.filter(pick).flatMap(_.get("rows")).map(_.asInstanceOf[BigInt]).toSet

  test("run reports declare time, per-pass times, the stage profile and the node walk") {
    val JArray(passes) = out \ "passes" \ q: @unchecked
    assert(passes.size == 1)
    val JDouble(t) = passes.head: @unchecked
    assert(out \ "queries" \ q == JDouble(t) && t > 0)
    val JDouble(declare) = profile \ "declare_s": @unchecked
    assert(declare > 0 && declare <= t)
    assert((profile \ "declare_jobs").isInstanceOf[JInt])
    assert((profile \ "tasks").values.asInstanceOf[BigInt] > 0)
    assert((profile \ "top_stages").children.nonEmpty)
    assert(nodes.nonEmpty && nodes.forall(n => n.contains("node") && n.contains("depth")))
  }

  test("the walk's collision-join and PPJoin rows equal the directly counted volumes") {
    val sh = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(expr(Dedup.ShingleArraySql)).as("sg"))
    val prefix = Dedup.prefixIndex(sh, 0.8)
    val collisions = prefix
      .select(col("doc_id").as("a"), col("sg"), col("pos").as("ia"), col("n").as("na"))
      .join(
        prefix.select(col("doc_id").as("b"), col("sg"), col("pos").as("ib"), col("n").as("nb")),
        Seq("sg"))
      .filter(col("a") < col("b"))
    // Catalyst folds PPJoin's length filter into the collision join's
    // condition, so the join's rows are the collisions that pass it.
    val nColl = collisions.count()
    val nLen = collisions.filter(least(col("na"), col("nb")).cast("double") >=
      lit(0.8) * greatest(col("na"), col("nb")).cast("double") - lit(1e-9)).count()
    val nCand = Dedup.ppjoinCandidates(collisions, 0.8).count()
    assert(nCand > 0, "the corpus must carry near-dup candidates")
    assert(nLen < nColl, "the length filter must prune some collisions")
    // The collision join is the one join on the shingle key that orients
    // its pairs (a < b); PPJoin's last filter is the positional bound.
    def desc(n: Map[String, Any]) = n("desc").asInstanceOf[String]
    assert(rows(n => n("node").toString.endsWith("Join") && desc(n).matches(".*\\ba#\\d+L? < b#.*")) ==
      Set(BigInt(nLen)))
    assert(rows(n => n("node") == "Filter" && desc(n).contains("bound#")) == Set(BigInt(nCand)))
    assert(rows(_("node") == "Generate") == Set(BigInt(sh.count())))
  }

  test("an override that cannot be set is reported in the output, not dropped") {
    val confs = (out \ "confs").children.map(_.values.asInstanceOf[Map[String, Any]])
    assert(confs.map(_("key")) == List("spark.sql.shuffle.partitions", "spark.sql.extensions"))
    val Seq(ok, bad) = confs
    assert(ok("took") == true && ok("effective") == partitions && !ok.contains("error"))
    assert(bad("took") == false && bad("requested") == "none.Such")
    assert(bad("error").toString.nonEmpty)
  }
}

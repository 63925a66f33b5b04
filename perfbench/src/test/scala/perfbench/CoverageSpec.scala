package perfbench

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** A query cannot land unmeasured: every benched query belongs to one
  * family, and the artifact set is exactly what publishes under an empty
  * root.
  */
class CoverageSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = graft.GraftSession.local(2)
  private val tmp = java.nio.file.Files.createTempDirectory("perfbench-coverage").toFile
  override def afterAll(): Unit = { spark.stop(); Files.wipe(tmp) }

  test("every benched query is in exactly one of match_etl and corpus_curate") {
    val all = graft.SparkEntry.queries.keySet
    assert(Workloads.MatchEtl.subsetOf(all), Workloads.MatchEtl -- all)
    assert(Workloads.MatchEtl.intersect(graft.Bench.Aliases.keySet).isEmpty)
    assert(Workloads.MatchEtl ++ Workloads.corpusCurate == all -- graft.Bench.Aliases.keys)
    assert(Workloads.MatchEtl.intersect(Workloads.corpusCurate).isEmpty)
  }

  test("each workload times queries of its own family") {
    assert(Workloads.Timed.keySet == Set("match_etl", "corpus_curate"))
    assert(Workloads.Timed("match_etl").toSet.subsetOf(Workloads.MatchEtl))
    assert(Workloads.Timed("corpus_curate").toSet.subsetOf(Workloads.corpusCurate))
    Workloads.Timed.values.foreach(q => assert(q.distinct == q))
  }

  test("the artifact queries are exactly those that publish under an empty root") {
    val data = new java.io.File(tmp, "data").getPath
    GenData.write(spark, data, 0.001)
    val writers = Workloads.artifactWriters(spark, data, new java.io.File(tmp, "artifacts"),
      Workloads.benched.toSeq.sorted)
    assert(writers == Workloads.ArtifactQueries,
      s"missing ${writers -- Workloads.ArtifactQueries}, stale ${Workloads.ArtifactQueries -- writers}")
  }
}

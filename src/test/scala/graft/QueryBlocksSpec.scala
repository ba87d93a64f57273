package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.scalatest.BeforeAndAfterAll

/** Every registry query at sf0.001, one collect each, on the shared test
  * session: a query leaves persisted only the RDDs its result reads
  * (`Leaks.resultRdds`) and no SQL cache entry its result does not
  * read, leaves no temp view behind, and its result
  * still reads back afterwards. Each query starts with an empty SQL
  * cache, as under Verify's sweep. Each query's Spark jobs go to
  * `target/query-blocks.tsv` (name, jobs, leaked RDDs, leaked cache
  * entries, leftover views), so two revisions' job counts can be
  * compared query by query. */
class QueryBlocksSpec extends SparkSpec with BeforeAndAfterAll {

  private val record = new StringBuilder("query\tjobs\tleaked_rdds\tleaked_entries\tleft_views\n")

  private lazy val fns = SparkEntry.queries

  private def tempViews: Set[String] =
    spark.sessionState.catalog.getTempViewNames().toSet

  queries.Registry.all.map(_.name).sorted.foreach { name =>
    test(s"$name frees what it pins and drops its views") {
      spark.catalog.clearCache()
      val views = tempViews
      val (jobs, leaked, entries) =
        Leaks.jobsAndLeaks(spark)(fns(name)(spark, sf))
      val left = tempViews -- views
      left.foreach(spark.sessionState.catalog.dropTempView)
      record ++= s"$name\t$jobs\t${leaked.size}\t$entries\t${left.size}\n"
      assert(leaked.isEmpty, s"$name left RDDs $leaked persisted beyond its result")
      assert(entries == 0, s"$name left $entries cache entries beyond its result")
      assert(left.isEmpty, s"$name left temp views $left")
    }
  }

  override def afterAll(): Unit = {
    Files.createDirectories(Paths.get("target"))
    Files.write(Paths.get("target/query-blocks.tsv"),
      record.toString.getBytes(StandardCharsets.UTF_8))
    super.afterAll()
  }
}

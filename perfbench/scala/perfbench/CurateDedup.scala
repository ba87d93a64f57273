package perfbench

import java.nio.file.{Path, Paths}

import scala.concurrent.Await
import scala.concurrent.duration._

import graft.ops.Dedup
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions.{lit, count => countRows}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Corpus curation: MinHash LSH candidate pairs, duplicate groups by
  * the star-contraction loop, survivor selection. Every op curates a
  * corpus of identical size and structure with planted near-duplicate
  * clusters (each copy changes one word of its cluster's base doc). */
final class CurateDedup(spark: SparkSession, a: Args) extends Workload {
  import CurateDedup._

  val warmups = 6
  private var docs: Seq[(Long, String)] = Nil
  private var cluster: Map[Long, Int] = Map.empty // planted cluster of each clustered doc
  private var groups: DataFrame = _
  private var pairsSeen: Observation = _
  private def out(k: Int): Path = Paths.get(a.work, s"survivors-$k")

  def setup(): Unit = {
    val rnd = new scala.util.Random(a.seed)
    val vocab = Array.fill(Vocab)(Seq.fill(4 + rnd.nextInt(6))(('a' + rnd.nextInt(26)).toChar).mkString)
    def doc() = Array.fill(Words)(vocab(rnd.nextInt(Vocab)))
    val clustered = (0 until Clusters).flatMap { c =>
      val base = doc()
      (0 until Copies).map { j =>
        val d = base.clone()
        if (j > 0) d(rnd.nextInt(Words)) = vocab(rnd.nextInt(Vocab))
        (d.mkString(" "), c)
      }
    }
    val singles = Seq.fill(Singles)((doc().mkString(" "), -1))
    val all = rnd.shuffle(clustered ++ singles).zipWithIndex
      .map { case ((text, c), i) => (i.toLong + 1, text, c) }
    docs = all.map(d => (d._1, d._2))
    cluster = all.filter(_._3 >= 0).map(d => d._1 -> d._3).toMap
  }

  def run(k: Int, t: Tracer): Long = {
    val corpus = spark.createDataFrame(
      spark.sparkContext.parallelize(docs.map { case (id, text) => Row(id, text) }, a.slots),
      StructType(Seq(StructField("id", LongType), StructField("text", StringType))))
    val obs = Observation(s"pairs-$k")
    pairsSeen = obs
    val pairs = t.call("Dedup.lshCandidatePairs") {
      Dedup.lshCandidatePairs(corpus, "id", "text", ShingleN, K, Bands)
    }.observe(obs, countRows(lit(1)).as("n"))
    val g = t.call("Dedup.duplicateGroupsStar") {
      Dedup.duplicateGroupsStar(pairs, smallGraph = 0)
    }
    t.call("Dedup.dedupSurvivors") {
      Dedup.dedupSurvivors(corpus, "id", g).write.parquet(out(k).toString)
    }
    groups = g
    docs.size
  }

  def check(k: Int): Boolean = {
    val nPairs = Await.result(pairsSeen.future, 60.seconds).getLong(0)
    count(k, "dedup.candidate_pairs", nPairs.toDouble)
    // the groups frame is checkpointed: collecting it re-reads its blocks
    val groups = this.groups.collect()
    val survivors = spark.read.parquet(out(k).toString).select("id").collect().map(_.getLong(0)).toSet
    count(k, "dedup.survivors", survivors.size.toDouble)
    val byGroup = groups.toSeq.map(r => (r.getLong(1), r.getLong(0))).groupMap(_._1)(_._2)
    // no group merges two planted clusters or takes in a unique doc
    val pure = byGroup.values.forall(m => m.map(id => cluster.getOrElse(id, -1 - id.toInt)).distinct.size == 1)
    // exactly the group representatives and the untouched docs survive
    val losers = groups.filter(r => r.getLong(0) != r.getLong(1)).map(_.getLong(0)).toSet
    val consistent = survivors == docs.map(_._1).filterNot(losers).toSet
    // at the engine's LSH settings about 1% of clusters lose a pair and
    // keep two survivors (the share is fixed for a seed; dedup.survivors
    // must repeat across ops); below 90% candidate generation is broken
    val perCluster = survivors.toSeq.flatMap(cluster.get).groupBy(identity).view.mapValues(_.size)
    val collapsed = perCluster.count(_._2 == 1).toDouble / Clusters
    val ok = pure && consistent && perCluster.size == Clusters && collapsed >= 0.9
    if (!ok) System.err.println(s"[perfbench] curate op $k: pure=$pure consistent=$consistent " +
      s"clusters kept=${perCluster.size} collapsed=$collapsed pairs=$nPairs survivors=${survivors.size}")
    ok
  }

  override def cleanup(k: Int): Unit = { groups = null; Workloads.deleteTree(out(k)) }

  def callMetrics = Seq(
    "dedup.lsh_ms" -> "Dedup.lshCandidatePairs",
    "dedup.groups_ms" -> "Dedup.duplicateGroupsStar",
    "dedup.survivors_ms" -> "Dedup.dedupSurvivors")
  override def callJobMetrics = Seq("dedup.groups_jobs" -> "Dedup.duplicateGroupsStar")
}

object CurateDedup {
  val Clusters = 500
  /** Docs per cluster: the base and its one-word edits. */
  val Copies = 3
  val Singles = 1000
  val Words = 50
  val Vocab = 20000
  /** The LSH settings of the engine's own dedup queries. */
  val ShingleN = 3
  val K = 8
  val Bands = 4
}

package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Builder-owned scale-up generator for the SECOND scaling decade
  * (SCALING.md): synthesizes an ~sf1 dataset from the driver's sf0.1
  * tables by unioning `copies` key-remapped replicas, so ScalingProbe
  * can measure sf0.1 → sf1 slopes instead of extrapolating the 100×
  * design claims from one decade. Writes OUTSIDE the read-only
  * /root/testdata (default /tmp/graft_testdata/sf1).
  *
  * Replica discipline (copy c = 0 is the identity):
  * - **Keys shift by a per-domain power of ten** (computed from the
  *   domain's max, shared by every table referencing it), so foreign
  *   keys stay consistent across tables, keys never collide, and
  *   mod-k membership predicates (divisible-by-4 offsets) keep their
  *   distribution.
  * - **Document text rotates letters by c** (a-z/A-Z caesar): lengths,
  *   token boundaries, and per-copy duplicate structure are preserved
  *   exactly, while shingles/minhashes across copies share nothing —
  *   dedup workloads scale 10× linearly instead of creating a fake
  *   10×-deep near-dup cluster per base document.
  * - **Embeddings rotate dimensions by c** (circular shift): norms and
  *   within-copy geometry are exact, cross-copy vectors differ.
  * - **Dimension tables (region, nation) and categorical columns
  *   (lang, source, brands, names, dates) stay fixed** — scale-up
  *   grows facts against stable dimensions, the TPC-H convention.
  * - Event timestamps keep their window: 10× density = 10× users in
  *   the same period, which is what a real scale-up does to
  *   sessionization state.
  *
  * Usage: graft.tools.GenScale [srcDir] [outDir] [copies]
  */
object GenScale {

  private def pow10Above(x: Long): Long = {
    var p = 10L
    while (p <= x) p *= 10
    p
  }

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/graft_testdata/sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = graft.Harness.session()
    def rd(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")

    // per-domain offsets from the PRIMARY table of each key domain
    def dom(t: String, c: String): Long =
      pow10Above(rd(t).agg(max(col(c))).head.getLong(0))
    val oOrders = dom("orders", "o_orderkey")
    val oCust = dom("customer", "c_custkey")
    val oPart = dom("part", "p_partkey")
    val oSupp = dom("supplier", "s_suppkey")
    val oDoc = dom("documents", "doc_id")
    val oVec = dom("embeddings", "vec_id")
    val oEvent = dom("events", "event_id")
    val oUser = dom("events", "user_id")

    val alpha = "abcdefghijklmnopqrstuvwxyz"
    def rot(c: Int): (String, String) = {
      val lo = alpha.drop(c % 26) + alpha.take(c % 26)
      (alpha + alpha.toUpperCase, lo + lo.toUpperCase)
    }

    /** Union `copies` replicas of `df`, applying per-copy column
      * transforms; copy 0 is the identity. */
    def scaled(df: DataFrame)(tx: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until copies).map(c => tx(df, c)).reduce(_ unionAll _)

    def shift(k: String, off: Long, c: Int) =
      (col(k) + lit(off * c)).as(k)

    // single FILE per table (not a directory): the driver's testdata
    // layout, which the streaming lanes' pathGlobFilter and the
    // footer-probing readers depend on — a directory named
    // events.parquet matches the glob but its part-files do not, so
    // the first sf1 cut silently streamed zero rows
    def write(name: String, df: DataFrame, parts: Int): Unit = {
      val _ = parts // kept for call-site documentation of relative size
      val tmp = s"$out/_tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(conf)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
      val target = new org.apache.hadoop.fs.Path(s"$out/$name.parquet")
      fs.delete(target, false)
      fs.rename(part, target)
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      println(s"[genscale] $name written")
    }

    // dims: fixed
    write("region", rd("region"), 1)
    write("nation", rd("nation"), 1)

    write("customer", scaled(rd("customer")) { (df, c) =>
      df.select(shift("c_custkey", oCust, c), col("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
    }, 4)

    write("supplier", scaled(rd("supplier")) { (df, c) =>
      df.select(shift("s_suppkey", oSupp, c), col("s_name"),
        col("s_nationkey"), col("s_acctbal"))
    }, 1)

    write("part", scaled(rd("part")) { (df, c) =>
      df.select(shift("p_partkey", oPart, c), col("p_name"),
        col("p_brand"), col("p_type"), col("p_size"), col("p_retailprice"))
    }, 4)

    write("orders", scaled(rd("orders")) { (df, c) =>
      df.select(shift("o_orderkey", oOrders, c), shift("o_custkey", oCust, c),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
    }, 8)

    write("lineitem", scaled(rd("lineitem")) { (df, c) =>
      df.select(shift("l_orderkey", oOrders, c), shift("l_partkey", oPart, c),
        shift("l_suppkey", oSupp, c), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"),
        col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
    }, 32)

    write("events", scaled(rd("events")) { (df, c) =>
      df.select(shift("event_id", oEvent, c), col("ts"),
        shift("user_id", oUser, c), col("event_type"), col("value"),
        col("props"))
    }, 16)

    write("documents", scaled(rd("documents")) { (df, c) =>
      val (from, to) = rot(c)
      df.select(shift("doc_id", oDoc, c),
        (if (c == 0) col("text") else translate(col("text"), from, to))
          .as("text"),
        col("lang"), col("source"), col("n_chars"))
    }, 8)

    write("embeddings", scaled(rd("embeddings")) { (df, c) =>
      val emb =
        if (c == 0) col("embedding")
        else expr(s"concat(slice(embedding, ${c + 1}, size(embedding) - $c)," +
          s" slice(embedding, 1, $c))")
      df.select(shift("vec_id", oVec, c), emb.as("embedding"), col("label"))
    }, 4)

    println(s"[genscale] done: $copies copies of $src at $out")
    spark.stop()
  }
}

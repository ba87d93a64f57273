package graft

import graft.ops.{Checkpoints, Dedup, Relational}
import org.apache.spark.sql.{DataFrame, TestCacheEntries}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** `Checkpoints.scoped`: the pins its result reads pass to the
  * enclosing scope or the caller, every other pin is freed, and nothing
  * it did not pin is touched. */
class ScopedPinsSpec extends SparkSpec {
  import spark.implicits._

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def entries: Int = TestCacheEntries.count(spark)

  private def frame: DataFrame = (1 to 20).map(i => (i.toLong, i % 3)).toDF("id", "k")

  /** Frees what a test left persisted since `before`. */
  private def release(before: Set[Int]): Unit =
    (persisted -- before).foreach(id =>
      spark.sparkContext.getPersistentRDDs.get(id).foreach(_.unpersist(true)))

  test("a body that throws frees every pin") {
    val before = persisted
    var cached: DataFrame = null
    intercept[IllegalStateException] {
      Checkpoints.scoped { pin =>
        pin(frame)
        pin.counted(frame.where(col("k") === 1))
        cached = pin.keep(frame.where(col("k") === 2).persist())
        cached.count()
        throw new IllegalStateException("after the pins")
      }
    }
    assert(persisted == before)
    assert(cached.storageLevel == StorageLevel.NONE)
  }

  test("a pin the result reads passes to the caller and reads back") {
    val before = persisted
    val out = Checkpoints.scoped { pin =>
      val a = pin(frame)
      val b = pin(frame.where(col("k") === 0).select("id"))
      a.join(b, "id")
    }
    assert((persisted -- before).size == 2)
    assert(out.as[(Long, Int)].collect().sortBy(_._1).toSeq ==
      (3L to 18L by 3L).map(i => (i, 0)))
    release(before)
  }

  test("a pin the result does not read is freed") {
    val before = persisted
    val out = Checkpoints.scoped { pin =>
      val a = pin(frame)
      val (counts, _) = pin.counted(a.groupBy("k").count())
      val total = pin.keep(counts.agg(sum("count")).persist())
      total.collect()
      a.where(col("k") === 1)
    }
    assert((persisted -- before) == Leaks.resultRdds(out))
    assert(out.count() == 7)
    release(before)
  }

  test("the frames of a tuple result are all passed on") {
    val before = persisted
    val (a, b) = Checkpoints.scoped { pin =>
      pin(frame.where(col("k") === 3)) // reads nothing: freed
      (pin(frame), Seq(pin(frame.select("k")).distinct()))
    }
    assert((persisted -- before) == Leaks.resultRdds(a) ++ Leaks.resultRdds(b.head))
    assert(a.count() == 20 && b.head.count() == 3)
    release(before)
  }

  test("pinning a projection never frees its ancestor; keep refuses one") {
    val base = frame.localCheckpoint()
    val before = persisted
    Checkpoints.scoped { pin =>
      pin(base.select("id"))
      pin.counted(base.where(col("k") === 1))
      intercept[IllegalArgumentException](pin.keep(base.select("k")))
      0L
    }
    assert(persisted == before)
    assert(base.count() == 20)
    Checkpoints.free(base)
  }

  test("an operator's lazy result hands its persists to the enclosing scope") {
    val before = persisted
    val entriesBefore = entries
    val out = Checkpoints.scoped { pin =>
      val ranked = Relational.twoLevelRankDesc(
        frame.withColumn("__s", -col("id")), "__s", "id", 8L, "pos")
      assert(entries == entriesBefore + 1) // the operator's persist, owned here
      pin(ranked)
    }
    assert((persisted -- before) == Leaks.resultRdds(out))
    assert(entries == entriesBefore, "a cache entry outlived the scope that owned it")
    assert(out.select("pos").as[Long].collect().sorted.toSeq == (1L to 20L))
    release(before)
  }

  test("an enclosing scope passes on what its own result still reads") {
    val before = persisted
    val entriesBefore = entries
    val out = Checkpoints.scoped { _ =>
      Dedup.lshCandidatePairs(frame.select(col("id"),
        concat_ws(" ", lit("a b c d e f"), col("k").cast("string")).as("text")),
        "id", "text", shingleN = 3, k = 8, bands = 4)
    }
    assert(entries == entriesBefore + 2)
    assert(out.count() >= 15 + 21 + 21) // every pair of equal texts
    val cached = persisted -- before
    assert(cached.size == 2 && cached.subsetOf(Leaks.resultRdds(out)))
    spark.catalog.clearCache()
    release(before)
  }

  test("iterate's last frame belongs to the open scope") {
    val before = persisted
    Checkpoints.scoped { _ =>
      val (init, n) = Checkpoints.ckptCount(frame)
      val (last, _) = Checkpoints.iterate(init, n, 2)((d, _) => d.where(col("id") > 1))
      last.count()
    }
    assert(persisted == before)
  }

  test("replace frees the superseded pin at once") {
    val before = persisted
    Checkpoints.scoped { pin =>
      val a = pin(frame)
      val b = pin.replace(a, frame.where(col("k") === 0).localCheckpoint())
      assert((persisted -- before) == Leaks.resultRdds(b))
      intercept[IllegalArgumentException](pin.replace(a, b))
      b.count()
    }
    assert(persisted == before)
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.operators.GlobalRank

class GlobalRankSpec extends SparkSpec {
  import spark.implicits._

  test("assigns exact 1..N ranks following the total order") {
    val df = Seq((3L, "c"), (1L, "a"), (2L, "b"), (5L, "e"), (4L, "d"))
      .toDF("k", "v")
    val ranked = GlobalRank.withRowNumber(df, Seq(col("k").asc))
      .select("k", "rn").as[(Long, Long)].collect().toMap
    assert(ranked == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 5L -> 5L))
  }

  test("rank is independent of input partitioning (the offset scheme is " +
      "exact, not per-partition)") {
    val df = spark.range(0, 1000).select(
      (col("id") * 37 % 1000).as("k"), col("id").as("payload"))
    val r1 = GlobalRank.withRowNumber(df.repartition(1), Seq(col("k").asc))
    val r7 = GlobalRank.withRowNumber(df.repartition(7), Seq(col("k").asc))
    val m1 = r1.select("k", "rn").as[(Long, Long)].collect().sorted
    val m7 = r7.select("k", "rn").as[(Long, Long)].collect().sorted
    assert(m1.sameElements(m7))
    // k = id*37 mod 1000 is a bijection on [0,1000): rank must equal k+1
    assert(m1.forall { case (k, rn) => rn == k + 1 })
  }

  test("ties broken by the caller's tie-break key, descending order " +
      "supported") {
    val df = Seq((10.0, 2L), (10.0, 1L), (20.0, 3L)).toDF("spend", "id")
    val out = GlobalRank
      .withRowNumber(df, Seq(col("spend").desc, col("id").asc))
      .select("id", "rn").as[(Long, Long)].collect().toMap
    assert(out == Map(3L -> 1L, 1L -> 2L, 2L -> 3L))
  }

  test("an empty frame gives zero rows and keeps the rank column") {
    val ranked = GlobalRank.withRowNumber(
      spark.range(0, 10).toDF("k").filter(col("k") > 100), Seq(col("k").asc))
    assert(ranked.columns.toSeq == Seq("k", "rn"))
    assert(ranked.count() == 0L)
  }

  test("a sort that leaves empty partitions still ranks exactly 1..N") {
    // 990 of 1,000 rows share the largest key, so the range sort's last
    // partition (keys above the top bound) is empty; partition
    // coalescing, which would fold it into a neighbor, is off for this
    // test. Mutates the shared session conf — safe only because suites
    // run sequentially.
    val df = spark.range(0, 1000).select(
      when(col("id") < 990L, lit(1000L)).otherwise(col("id") - 990L).as("k"),
      col("id")).repartition(7)
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val ranked = GlobalRank.withRowNumber(df, Seq(col("k").asc))
      val filled = ranked.select(spark_partition_id()).distinct().count()
      assert(filled < ranked.rdd.getNumPartitions,
        s"no empty partition: $filled of ${ranked.rdd.getNumPartitions} filled")
      val got = ranked.select("k", "rn").as[(Long, Long)].collect()
      assert(got.map(_._2).sorted.toSeq == (1L to 1000L))
      // the ten distinct small keys take ranks 1..10 in key order
      assert(got.filter(_._1 < 1000L).forall { case (k, rn) => rn == k + 1 })
    } finally spark.conf.set(key, saved)
  }

  test("running total: exact prefix sums following the total order, " +
      "independent of input partitioning") {
    val df = spark.range(0, 1000).select(
      (col("id") * 37 % 1000).as("k"), (col("id") % 7).as("v"))
    Seq(1, 7).foreach { parts =>
      val out = GlobalRank.withRunningTotal(df.repartition(parts),
          Seq(col("k").asc), "v")
        .select("k", "rn", "cum").as[(Long, Long, Long)].collect()
        .sortBy(_._2)
      assert(out.map(_._2).toSeq == (1L to 1000L).toSeq)
      // prefix sums recomputed serially must match exactly
      val byK = df.select("k", "v").as[(Long, Long)].collect()
        .sortBy(_._1)
      val expect = byK.map(_._2).scanLeft(0L)(_ + _).tail
      assert(out.map(_._3).toSeq == expect.toSeq,
        s"prefix sums diverge at $parts partitions")
    }
  }

  test("running total: NULL values count as zero, empty frame yields " +
      "zero rows") {
    val df = Seq((1L, Some(5L)), (2L, None), (3L, Some(7L)))
      .toDF("k", "v")
    val out = GlobalRank.withRunningTotal(df, Seq(col("k").asc), "v")
      .select("k", "cum").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 5L, 2L -> 5L, 3L -> 12L))
    val empty = GlobalRank.withRunningTotal(
      df.filter(col("k") > 100), Seq(col("k").asc), "v")
    assert(empty.count() == 0L)
  }
}

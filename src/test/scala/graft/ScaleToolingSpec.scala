package graft

import org.apache.spark.sql.functions._
import graft.catalog.Catalog
import graft.operators.Skew

/** The explicit scale levers: salted joins and bucketed co-located joins.
  * These tests assert plan SHAPE (exchange elimination), not just results —
  * the property that matters at 100 TB. */
class ScaleToolingSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin returns the same multiset as the plain join") {
    val skewed = spark.range(1000).select((col("id") % 3).as("k"), col("id").as("v"))
    val build = Seq((0L, "a"), (1L, "b"), (2L, "c"), (0L, "a2")).toDF("k", "w")
    val plain = skewed.join(build, Seq("k"))
    val salted = Skew.saltedJoin(skewed, build, "k", 8)
    assert(salted.count() == plain.count())
    val diff = salted.groupBy("k", "v", "w").count()
      .except(plain.groupBy("k", "v", "w").count())
    assert(diff.count() == 0)
    assert(salted.columns.toSeq == plain.columns.toSeq) // salt column dropped
  }

  test("saltedJoin with 9 salts: power-law hot key spreads, same multiset") {
    // power-law key: key 0 carries 9000 rows, keys 1..100 carry ~10 each
    val hot = spark.range(9000).select(lit(0L).as("k"), col("id").as("v"))
    val tail = spark.range(1000).select((col("id") % 100 + 1).as("k"), col("id").as("v"))
    val skewed = hot.unionByName(tail)
    val build = spark.range(101).select(col("id").as("k"), (col("id") * 7).as("w"))
    // the hot key's rows spread across salts with no salt bucket oversized:
    // every per-(key,salt) task group stays within 2× the ideal share
    val saltCounts = rows(hot
      .withColumn("__salt", pmod(abs(hash(col("k"), col("v"))), lit(9)))
      .groupBy("__salt").count().select("count"))
      .map(_.head.asInstanceOf[Long])
    assert(saltCounts.size == 9, "all 9 salt buckets must be populated")
    assert(saltCounts.max <= 2 * (9000 / 9), s"spread too skewed: $saltCounts")
    // multiset equality with the plain join, salt column dropped
    val salted = Skew.saltedJoin(skewed, build, "k", 9)
    val plain = skewed.join(build, Seq("k"))
    assert(salted.columns.toSeq == plain.columns.toSeq)
    assert(salted.count() == plain.count())
    assert(salted.groupBy("k", "v", "w").count()
      .except(plain.groupBy("k", "v", "w").count()).count() == 0)
  }

  test("30%-hot-key fixture: salting physically splits the hot key's task") {
    // one key carries 30% of all rows — the pathological shape AQE-off SMJ
    // funnels into a single straggler task
    val n = 20000L
    val skewed = spark.range(n).select(
      when(col("id") % 10 < 3, lit(0L)).otherwise(col("id")).as("k"), col("id").as("v"))
    val build = spark.range(n).select(col("id").as("k"), (col("id") * 7).as("w"))
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      def hotPartitions(df: org.apache.spark.sql.DataFrame): Long =
        df.filter(col("k") === 0).rdd
          .mapPartitionsWithIndex((i, it) => if (it.hasNext) Iterator(i) else Iterator.empty)
          .distinct().count()
      val plain = skewed.join(build, Seq("k"))
      assert(hotPartitions(plain) == 1,
        "plain hash-partitioned join must place the whole hot key in one task")
      val salted = Skew.saltedJoin(skewed, build, "k", 6)
      assert(hotPartitions(salted) > 1,
        "salted join must spread the hot key across multiple tasks")
      assert(salted.count() == plain.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
    }
  }

  test("projection prunes the parquet scan to selected columns") {
    val plan = graft.SparkEntry.queries("q_s3_scan_projection")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<c_custkey:bigint,c_name:string,c_mktsegment:string>"),
      s"scan must read only the 3 projected columns:\n$plan")
  }

  test("fact build plan: star lookups broadcast, no sort-merge join") {
    val plan = graft.SparkEntry.queries("q_c3_fact_build")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), s"no sort-merge expected:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 4,
      s"the four dim lookups must broadcast:\n$plan")
  }

  test("bucketed tables join without a shuffle exchange") {
    val wh = tempDir("graft-bucket").toString
    val cat = new Catalog(spark, wh)
    val left = spark.range(10000).select(col("id").as("k"), (col("id") * 2).as("a"))
    val right = spark.range(10000).select(col("id").as("k"), (col("id") * 3).as("b"))
    cat.writeBucketed("t_left", left, "k", 8)
    cat.writeBucketed("t_right", right, "k", 8)
    // force the big-big shape (broadcast would hide the bucketing benefit —
    // at 100 TB neither side broadcasts)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("t_left").join(spark.table("t_right"), Seq("k"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")
      assert(plan.contains("Bucketed: true"), s"scan must use buckets:\n$plan")
      assert(joined.count() == 10000)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("cmsContract: exact in the collision-free regime, contract booleans hold") {
    // 3 keys into 1024 buckets × 4 rows: collision-free in practice →
    // estimates are EXACT (and deterministic — md5 hashing, no RNG)
    val df = (Seq.fill(50)("a") ++ Seq.fill(30)("b") ++ Seq.fill(20)("c"))
      .toDF("k")
    val r = Skew.cmsContract(df, "k", depth = 4, widthBits = 10, topN = 3)
      .orderBy("rank").collect()
    assert(r.map(_.getAs[String]("skey")).toSeq == Seq("a", "b", "c"))
    assert(r.map(_.getAs[Long]("true_n")).toSeq == Seq(50L, 30L, 20L))
    assert(r.forall(x => x.getAs[Long]("cms_n") == x.getAs[Long]("true_n")))
    assert(r.forall(_.getAs[Boolean]("no_underestimate")))
    assert(r.forall(_.getAs[Boolean]("within_bound")))
  }

  test("cmsSketch: shard sketches merge cell-wise to the whole-corpus sketch") {
    val whole = (1 to 200).map(i => (i.toLong, s"k${i % 13}")).toDF("id", "k")
    val oneScan = Skew.cmsSketch(whole, "k").collect().toSet
    val merged = Skew.cmsSketch(whole.filter($"id" % 2 === 0), "k")
      .union(Skew.cmsSketch(whole.filter($"id" % 2 === 1), "k"))
      .groupBy("s", "b").agg(sum("c").as("c")).collect().toSet
    assert(merged == oneScan, "CMS must be additive across shards")
  }
}

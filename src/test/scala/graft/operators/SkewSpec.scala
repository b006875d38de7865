package graft.operators

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.functions._

class SkewSpec extends SparkTestBase {
  import spark.implicits._

  test("saltedAggregate equals plain aggregation on skewed data") {
    // one hot key (90% of rows) + a long tail
    val df = ((1 to 9000).map(i => ("hot", i.toLong)) ++
              (1 to 1000).map(i => (s"k${i % 50}", i.toLong))).toDF("k", "v")
    val plain = df.groupBy($"k").agg(sum($"v").as("total"))
      .as[(String, Long)].collect().toMap
    val salted = Skew.saltedAggregate(df, Seq("k"), saltBuckets = 8,
        partial = sum($"v"), combine = sum, outCol = "total")
      .as[(String, Long)].collect().toMap
    assert(salted == plain)
  }

  test("saltedJoin equals plain inner join, including multiplicities") {
    val skewed = ((1 to 5000).map(_ => 1L) ++ (1 to 100).map(_.toLong))
      .toDF("id").withColumn("payload", monotonically_increasing_id())
    val dim = (1 to 100).map(i => (i.toLong, s"name$i")).toDF("id", "name")
    val plain = skewed.join(dim, "id").groupBy($"id").count()
      .as[(Long, Long)].collect().toMap
    val salted = Skew.saltedJoin(skewed, dim, "id", saltBuckets = 4)
      .groupBy($"id").count().as[(Long, Long)].collect().toMap
    assert(salted == plain)
    assert(salted(1L) == 5001L)   // the hot key's full multiplicity survives
  }

  test("joinMass: hand-computed histogram; implied_rows equals the real join size") {
    // keys: 1 → 3×2=6 rows (bucket 2), 2 → 1×1=1 (bucket 0), 3 left-only
    val l = Seq(1L, 1L, 1L, 2L, 3L).toDF("lk").withColumn("pl", lit("x"))
    val r = Seq(1L, 1L, 2L, 4L).toDF("rk").withColumn("pr", lit("y"))
    val census = Skew.joinMass(l, r, "lk", "rk")
      .orderBy($"bucket").as[(Long, Long, Long, Long)].collect().toSeq
    assert(census == Seq((0L, 1L, 1L, 1L), (2L, 1L, 6L, 6L)))
    val actual = l.join(r, l("lk") === r("rk")).count()
    assert(census.map(_._3).sum == actual, "census must price the join exactly")
  }

  test("joinMass: a planted hot key dominates the top bucket before any join runs") {
    val l = ((1 to 2000).map(_ => 77L) ++ (1L to 50L)).toDF("k").withColumn("p", lit(1))
    val r = ((1 to 300).map(_ => 77L) ++ (1L to 50L)).toDF("k").withColumn("q", lit(2))
    val top = Skew.joinMass(l, r, "k", "k").orderBy($"bucket".desc)
      .as[(Long, Long, Long, Long)].collect().head
    assert(top._4 == 2000L * 300L, s"hot key mass not surfaced: $top")
    assert(top._2 == 1L)
  }

  test("joinAdvice: verdict, exact pricing, and the hot-key salt hint") {
    val l = Seq(1L, 1L, 1L, 2L, 3L).toDF("lk").withColumn("pl", lit("x"))
    val r = Seq(1L, 1L, 2L, 4L).toDF("rk").withColumn("pr", lit("y"))
    val row = Skew.joinAdvice(l, r, "lk", "rk", broadcastMaxRows = 10L).collect().head
    assert(row.getAs[Long]("left_rows") == 5L && row.getAs[Long]("right_rows") == 4L)
    assert(row.getAs[Long]("implied_rows") ==
      l.join(r, l("lk") === r("rk")).count(), "advice must price the join exactly")
    assert(row.getAs[String]("strategy") == "broadcast_right")
    assert(row.getAs[Boolean]("salt_hint"), "key 1 carries 6/7 of the output")
    // larger sides flip the verdict; a balanced key space clears the hint
    val big = (1L to 200L).toDF("k").withColumn("p", lit(1))
    val row2 = Skew.joinAdvice(big, big.withColumnRenamed("p", "q"), "k", "k",
      broadcastMaxRows = 10L).collect().head
    assert(row2.getAs[String]("strategy") == "shuffle")
    assert(!row2.getAs[Boolean]("salt_hint"))
    // disjoint key spaces price to zero, not null
    val row3 = Skew.joinAdvice(Seq(1L).toDF("a"), Seq(2L).toDF("b"), "a", "b").collect().head
    assert(row3.getAs[Long]("implied_rows") == 0L && row3.getAs[Long]("max_key_mass") == 0L)
  }

  test("salted join on the lineitem fixture matches the unsalted plan") {
    val t = Tables(spark, sf0001)
    val plain = t.lineitem.join(t.part, t.lineitem("l_partkey") === t.part("p_partkey"))
      .count()
    val dim = t.part.withColumnRenamed("p_partkey", "l_partkey")
    val salted = Skew.saltedJoin(t.lineitem, dim, "l_partkey", saltBuckets = 4).count()
    assert(salted == plain)
  }

  test("AQE splits a planted hot key at runtime: bare join, and under a re-aggregation") {
    // half the fact rows on ONE key (the mega-repo pathology), broadcast
    // off so the join must sort-merge; the skew thresholds are scaled to
    // the test's data size — the trigger condition (hot partition >
    // factor x median AND > absolute threshold) is the one the defaults
    // evaluate at cluster scale
    val conf = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64k",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "256k",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2")
    val keys = conf.keys.toSeq :+ "spark.sql.adaptive.forceOptimizeSkewedJoin"
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    def skewSplit(df: org.apache.spark.sql.DataFrame): Boolean = {
      df.queryExecution.executedPlan.execute().count()
      df.queryExecution.executedPlan.toString.linesIterator
        .exists(l => l.contains("skew=true") || l.contains("AQEShuffleRead skewed"))
    }
    try {
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      val fact = spark.range(200000).select(
        when($"id" % 2 === 0, lit(0L)).otherwise(pmod($"id", lit(5000L))).as("k"),
        md5($"id".cast("string")).as("v"))
      val dim = spark.range(5000).select($"id".as("k"), concat(lit("dim-"), $"id").as("d"))
      assert(skewSplit(fact.join(dim, "k")), "AQE skew split did not fire on the bare join")
      spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      // the aggregate reads the payload, so the join's shuffle carries it
      assert(skewSplit(fact.join(dim, "k").groupBy($"d").agg(max($"v").as("m"))),
        "forceOptimizeSkewedJoin did not engage the split under the aggregation")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

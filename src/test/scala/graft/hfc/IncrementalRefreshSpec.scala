package graft.hfc

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** The monthly-refresh contract (§1.5.8): stale repos get counters
  * only, fresh repos get full upsert, untouched rows survive. */
class IncrementalRefreshSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s + " 00:00:00")
  private val limit = lit("2024-02-01").cast("timestamp")

  private val existing = Seq(
    ("r1", ts("2024-01-10"), 5, "old-card-r1"),
    ("r2", ts("2024-01-15"), 9, "old-card-r2"),
    ("r3", ts("2024-03-01"), 2, "old-card-r3"),
  ).toDF("id", "last_modified", "likes", "card_data")

  test("stale rows refresh counters only; fresh rows fully upsert; absent rows insert") {
    val batch = Seq(
      ("r1", ts("2024-01-10"), 50, "NEW-CARD-MUST-NOT-APPLY"),  // stale → counters only
      ("r3", ts("2024-03-20"), 7, "new-card-r3"),               // fresh → full upsert
      ("r4", ts("2024-04-01"), 1, "card-r4"),                   // new → insert
    ).toDF("id", "last_modified", "likes", "card_data")
    val out = IncrementalRefresh.refresh(existing, batch, Seq("id"),
        "last_modified", limit, counterCols = Seq("likes"))
      .as[(String, Timestamp, Int, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out("r1") == ((ts("2024-01-10"), 50, "old-card-r1")))  // K4: likes only
    assert(out("r2") == ((ts("2024-01-15"), 9, "old-card-r2")))   // untouched
    assert(out("r3") == ((ts("2024-03-20"), 7, "new-card-r3")))   // K2: full row
    assert(out("r4") == ((ts("2024-04-01"), 1, "card-r4")))       // inserted
  }

  test("refresh is idempotent") {
    val batch = Seq(
      ("r1", ts("2024-01-10"), 50, "X"),
      ("r3", ts("2024-03-20"), 7, "new-card-r3")).toDF("id", "last_modified", "likes", "card_data")
    def run(df: org.apache.spark.sql.DataFrame) =
      IncrementalRefresh.refresh(df, batch, Seq("id"), "last_modified", limit, Seq("likes"))
    val once = run(existing).as[(String, Timestamp, Int, String)].collect().toSet
    val twice = run(run(existing)).as[(String, Timestamp, Int, String)].collect().toSet
    assert(once == twice)
  }

  /** K4 over the stale rows, then K2 over the fresh rows, each
    * last-wins: the composition the one-aggregation refresh replaces. */
  private def k4ThenK2(existing: DataFrame, batch: DataFrame): DataFrame = {
    val (stale, fresh) = MergeWriter.stalenessSplit(batch, "last_modified", limit)
    MergeWriter.upsert(
      MergeWriter.updateColumns(existing, stale, Seq("id"), Seq("likes")), fresh, Seq("id"))
  }

  private type Repo = (String, Timestamp, Option[Int], Option[String])

  test("refresh equals K4 then K2 on seeded batches with every planted case") {
    val planted: Seq[Repo] = Seq(
      ("k1", ts("2024-01-03"), Some(11), Some("stale-k1")),   // k1 stale...
      ("k1", ts("2024-02-04"), Some(12), Some("fresh-k1")),   // ...and fresh: K2 wins
      ("k2", ts("2024-02-05"), Some(21), Some("fresh-k2")),   // fresh, then stale: K2 wins
      ("k2", ts("2024-01-06"), Some(22), Some("stale-k2")),
      ("ghost", ts("2024-01-07"), Some(1), Some("ghost")),    // stale, not in the store
      ("k3", ts("2024-01-08"), Some(31), None),               // stale duplicates: last wins
      ("k3", ts("2024-01-09"), None, Some("x")),              //   with its NULL counter
      ("k4", ts("2024-03-01"), Some(41), Some("dup-a")),      // fresh duplicates: last wins
      ("k4", ts("2024-03-02"), Some(42), None),               //   with its NULL card
      ("new", ts("2024-03-03"), Some(5), Some("new")),        // fresh, not in the store
      (null, ts("2024-03-04"), Some(6), Some("null-key")),    // a NULL key matches nothing
      (null, ts("2024-01-04"), Some(7), Some("null-key-stale")))
    val store: Seq[Repo] = (0 until 8).map(i =>
      (s"k$i", ts("2023-12-01"), Some(100 + i), Some(s"card-k$i"))) ++
      Seq[Repo]((null, ts("2023-12-02"), Some(0), Some("null-a")),
        (null, ts("2023-12-03"), Some(0), Some("null-b")))
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      def opt[A](a: => A) = if (rnd.nextInt(5) == 0) None else Some(a)
      // ids drawn from a range twice the store's: known and unknown keys,
      // duplicates on both paths; months before and after the watermark
      val drawn: Seq[Repo] = Seq.fill(40)((s"k${rnd.nextInt(16)}",
        ts(f"2024-${1 + rnd.nextInt(3)}%02d-${1 + rnd.nextInt(28)}%02d"),
        opt(rnd.nextInt(1000)), opt(s"card-${rnd.nextInt(1000)}")))
      val existing = store.toDF("id", "last_modified", "likes", "card_data")
      val batch = rnd.shuffle(drawn ++ planted).toDF("id", "last_modified", "likes", "card_data")
      val rows = (df: DataFrame) => df.collect().map(_.toString).sorted.toSeq
      val out = IncrementalRefresh.refresh(existing, batch, Seq("id"), "last_modified", limit,
        Seq("likes"))
      val reference = k4ThenK2(existing, batch)
      assert(rows(out) == rows(reference), s"seed $seed")
      assert(out.columns.toSeq == reference.columns.toSeq)
    }
    // the planted cases hold (batch in planted order: last row wins)
    val out = IncrementalRefresh.refresh(
        store.toDF("id", "last_modified", "likes", "card_data"),
        planted.toDF("id", "last_modified", "likes", "card_data"), Seq("id"),
        "last_modified", limit, Seq("likes"))
      .as[Repo].collect()
    val byId = out.filter(_._1 != null).map(r => r._1 -> r).toMap
    assert(byId("k1") == (("k1", ts("2024-02-04"), Some(12), Some("fresh-k1"))))
    assert(byId("k2") == (("k2", ts("2024-02-05"), Some(21), Some("fresh-k2"))))
    assert(!byId.contains("ghost"))
    assert(byId("k3") == (("k3", ts("2023-12-01"), None, Some("card-k3"))))
    assert(byId("k4") == (("k4", ts("2024-03-02"), Some(42), None)))
    assert(byId("new")._4 == Some("new") && byId("k5") == store(5))
    assert(out.filter(_._1 == null).map(_._4.get).sorted.toSeq == Seq("null-a", "null-b", "null-key"))
  }

  test("a NULL watermark fails the refresh by name") {
    val batch = Seq(("r1", 50, "X")).toDF("id", "likes", "card_data")
      .withColumn("last_modified", lit(null).cast("timestamp"))
      .select("id", "last_modified", "likes", "card_data")
    val e = intercept[Exception](IncrementalRefresh.refresh(existing, batch, Seq("id"),
      "last_modified", limit, Seq("likes")).collect())
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("last_modified contains NULLs")), messages(e))
  }

  test("an existing table with a repeated key fails the refresh by name") {
    val twice = existing.union(Seq(("r2", ts("2024-01-16"), 8, "other-card-r2"))
      .toDF("id", "last_modified", "likes", "card_data"))
    // the batch does not mention r2: the repeat is caught all the same
    val batch = Seq(("r1", ts("2024-01-10"), 50, "X")).toDF("id", "last_modified", "likes", "card_data")
    val e = intercept[Exception](IncrementalRefresh.refresh(twice, batch, Seq("id"),
      "last_modified", limit, Seq("likes")).collect())
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("more than one row with the same (id)")), messages(e))
  }

  test("limitDate helper snaps to month start (P13)") {
    val d = Seq(1).toDF("x")
      .select(Transforms.limitDate(0).cast("string")).as[String].head()
    assert(d.endsWith("-01"))
  }
}

package graft.streaming

import graft.SparkTestBase
import graft.operators.{IncrementalHashDedup, WebText}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.io.File

/** The composed streaming WEB pipeline (extraction → web gate →
  * incremental URL dedup → incremental content dedup as ONE
  * foreachBatch pass) over a two-wave MemoryStream: per-stage verdicts
  * land as one row per page, later waves probe earlier waves' stores,
  * a torn store compaction self-repairs on the next batch, and a
  * checkpoint loss replays to bit-identical decisions without growing
  * either store. The stage-ORDER semantics are pinned explicitly: a
  * url-duplicate's content key never enters the content store, so the
  * same body arriving later under a fresh URL is KEPT. */
class WebPipelineStreamSpec extends SparkTestBase {
  import spark.implicits._

  private val bodyA = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
  private val bodyB = "one two three four five six seven eight nine ten eleven twelve"
  private val bodyC = "red orange yellow green blue indigo violet cyan magenta teal navy plum"
  private val bodyD = "ant bee cat dog elk fox gnu hen ibis jay kite lynx"

  // two chrome variants of the same logical page: different
  // comment/script/style/href, SAME extracted text (body + anchor text)
  private def pageA(body: String): String =
    "<html><head><script type=\"x\">one();</script></head><body>" +
      "<!-- v1 --><p>" + body + "</p><a href=\"/a\">l1</a></body></html>"
  private def pageB(body: String): String =
    "<html><head><style>p { x: y; }</style><script>two(); different();</script></head>" +
      "<body><!-- v2 chrome --><p>" + body + "</p><a href=\"/b\">l1</a></body></html>"
  // link farm: 10 words of body + 10 anchors -> 20 words, density 50 > 20
  private def farmPage: String =
    "<html><body><p>just ten words of body text here to count now</p>" +
      (1 to 10).map(i => s"""<a href="/f$i">f$i</a>""").mkString(" ") + "</body></html>"

  private def decisions(out: String): Map[Long, (Boolean, Option[Long], Option[Long], Boolean)] =
    spark.read.parquet(out)
      .select($"doc_id", $"gate_passed", $"url_dup_of", $"content_dup_of", $"kept")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), Option(r.get(2)).map(_.asInstanceOf[Long]),
          Option(r.get(3)).map(_.asInstanceOf[Long]), r.getBoolean(4))).toMap

  test("two waves: gate, url store, content store, stage order, torn compact, checkpoint loss") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-wps").toString
    val urlStore = s"$base/urls"; val contentStore = s"$base/bodies"
    val out = s"$base/decisions"

    // doc 0 is crawl history: its canonical-url key and (already
    // extracted) body key seed the two stores
    val seed = Seq((0L, "https://seed.com/", "seed body text of the historical page"))
      .toDF("doc_id", "url", "clean")
      .select($"doc_id",
        WebText.key60(WebText.urlCanonicalize($"url")).as("uk"),
        WebText.key60($"clean").as("ck"))
    IncrementalHashDedup.initStore(seed.select($"doc_id", $"uk"), urlStore, hashCol = "uk")
    IncrementalHashDedup.initStore(seed.select($"doc_id", $"ck"), contentStore, hashCol = "ck")

    val wave1 = Seq(
      (10L, "HTTPS://WWW.Site.COM:443/a?utm_source=x&b=2&a=1#top", pageA(bodyA)),
      (11L, "https://www.site.com/a?b=2&a=1&gclid=q", pageB(bodyB)), // url-dup of 10 (batch mate)
      (12L, "https://other.com/b", pageB(bodyA)),                    // content-dup of 10, chrome differs
      (13L, "not a url at all", pageA(bodyA)),                       // quarantine: gate fails
      (14L, "https://farm.com/", farmPage),                          // link density: gate fails
      (15L, "HTTPS://seed.com:443", pageA(bodyC)))                   // url-dup of seeded history
    val wave2 = Seq(
      (20L, "https://fresh.com/b2", pageA(bodyB)),                   // KEPT: 11 was a url-dup, so bodyB never entered the content store
      (21L, "https://www.site.com/a?a=1&b=2&fbclid=zz", pageA(bodyD)), // url-dup of 10 via store
      (22L, "https://fresh.com/a2", pageB(bodyA)),                   // content-dup of 10 via store
      (23L, "https://fresh.com/c", pageA(bodyD)))                    // kept

    def startQuery(ckpt: String) = {
      val mem = MemoryStream[(Long, String, String)]
      val q = EventStreams.webPipelineStream(
        mem.toDF.toDF("doc_id", "url", "html"), urlStore, contentStore, out)
        .option("checkpointLocation", ckpt)
        .start()
      (mem, q)
    }

    val (mem, q) = startQuery(s"$base/ckpt")
    try {
      mem.addData(wave1: _*)
      q.processAllAvailable()

      val d1 = decisions(out)
      assert(d1(10L) == ((true, None, None, true)), s"10: ${d1(10L)}")
      assert(d1(11L) == ((true, Some(10L), None, false)), s"11: ${d1(11L)}")
      assert(d1(12L) == ((true, None, Some(10L), false)), s"12: ${d1(12L)}")
      assert(d1(13L) == ((false, None, None, false)), s"13: ${d1(13L)}")
      assert(d1(14L) == ((false, None, None, false)), s"14: ${d1(14L)}")
      assert(d1(15L) == ((true, Some(0L), None, false)), s"15: ${d1(15L)}")

      // torn compaction of the url store: StoreProtocol.compact crashed between
      // its two renames — staging complete, target moved aside. The
      // next batch's recoverDir-on-entry must roll forward.
      q.stop()
      val staging = graft.hfc.AtomicSwap.stagingFor(urlStore)
      FileUtils.copyDirectory(new File(urlStore), new File(staging))
      FileUtils.moveDirectory(new File(urlStore), new File(urlStore + ".old"))

      // fresh checkpoint + full re-delivery (the soak idiom): the
      // applied markers make the replayed wave a no-op on the stores
      val (mem2, q2) = startQuery(s"$base/ckpt2")
      try {
        mem2.addData(wave1: _*)
        q2.processAllAvailable()
        mem2.addData(wave2: _*)
        q2.processAllAvailable()
      } finally q2.stop()

      val d2 = decisions(out)
      assert(d2(20L) == ((true, None, None, true)),
        s"20 must be KEPT — a url-dup's body key never enters the content store: ${d2(20L)}")
      assert(d2(21L) == ((true, Some(10L), None, false)), s"21: ${d2(21L)}")
      assert(d2(22L) == ((true, None, Some(10L), false)), s"22: ${d2(22L)}")
      assert(d2(23L) == ((true, None, None, true)), s"23: ${d2(23L)}")
      // wave-1 decisions unchanged by the replay
      assert(d2.filter(_._1 < 20) == d1, "wave-1 decisions drifted across restart")

      // stores grew by exactly the stage keepers
      assert(spark.read.parquet(urlStore).select("id").as[Long].collect().toSet ==
        Set(0L, 10L, 12L, 20L, 22L, 23L), "url store = seed + url keepers")
      assert(spark.read.parquet(contentStore).select("id").as[Long].collect().toSet ==
        Set(0L, 10L, 20L, 23L), "content store = seed + content keepers")

      // ---- checkpoint loss: a fresh query re-delivers wave 1 as its
      // batch 0 — markers + the symmetric-relation replay guard keep
      // decisions identical and stores untouched
      val before = spark.read.parquet(out).collect().toSet
      val urlRows = spark.read.parquet(urlStore).count()
      val contentRows = spark.read.parquet(contentStore).count()
      val (mem3, q3) = startQuery(s"$base/ckpt-lost")
      try {
        mem3.addData(wave1: _*)
        q3.processAllAvailable()
      } finally q3.stop()
      assert(spark.read.parquet(out).collect().toSet == before,
        "replay after checkpoint loss must reproduce decisions exactly-once")
      assert(spark.read.parquet(urlStore).count() == urlRows,
        "replay must not re-append url keys")
      assert(spark.read.parquet(contentStore).count() == contentRows,
        "replay must not re-append content keys")
    } finally {
      if (q.isActive) q.stop()
      FileUtils.deleteQuietly(new File(base))
    }
  }
}

package graft

import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Oracle-regime caveat (also in tools/check.py): qg10/qg11 are priced
  * queries — at most 512 co-activity vertices (every sf <= 0.01 gate
  * run) they serve the exact neighborhood function that the DuckDB SQL
  * computes; above that (e.g. sf0.1, |V|≈1500) they switch to HyperBall
  * with `_est` columns, so the DuckDB compare is only valid in the
  * exact regime. The mode choice is logged per run. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated name prefixes — run only the
    // matching queries (dev iteration; the driver passes 2 args)
    val only = args.drop(2).headOption.map(_.split(",").toSeq)
    val spark = GraftSession.local(appName = "graft-verify")
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.exists(name.startsWith)) }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // drop per-query persisted state (signature tables etc.) so 40+
      // queries don't accumulate cache across the run
      spark.catalog.clearCache()
    }
    import Json.{str => q}
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Regime guard for tools/check.py, generated from the SAME Scala
    // constants the engine's mode switch reads (ExtendedQueries) — the
    // guard predicate and the priced regime cannot drift. Kept out of
    // oracle_sql.json: the driver treats every key there as a query.
    val guard = Seq(
      s"${q("queries")}: [${queries.ExtendedQueries.exactRegimeQueries.map(q).mkString(", ")}]",
      s"${q("vertex_count_sql")}: ${q(queries.ExtendedQueries.coactivityVertexCountSql)}",
      s"${q("max_vertices")}: ${queries.ExtendedQueries.ExactNeighborhoodMaxV}"
    ).mkString("{", ", ", "}")
    Files.writeString(Paths.get(s"$outDir/regime_guard.json"), guard)
    spark.stop()
  }
}

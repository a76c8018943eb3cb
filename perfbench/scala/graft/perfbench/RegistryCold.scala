package graft.perfbench

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.registry._

/** The analytics registry, cold: a fresh session builds every
  * `registry.Shared` artifact in declaration order, then runs one pin-warm
  * pass over a fixed list of registry queries (order permuted by the
  * seed). Results are dumped for the DuckDB oracle compare, which runs
  * after the process, outside the timed region. */
object RegistryCold {
  /** Corpus: the committed copy of the sf0.001 test corpus. */
  val Corpus = "sf0.001"

  /** Every registry slice with its queries, in `SparkEntry` order. */
  val Slices: Seq[(String, Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame])] =
    Seq("Core" -> CoreRegistry.queries, "Sources" -> SourcesRegistry.queries,
      "Curation" -> CurationRegistry.queries, "Text" -> TextRegistry.queries,
      "Similarity" -> SimilarityRegistry.queries,
      "Analytics" -> AnalyticsRegistry.queries)

  /** One query per slice, plus those open performance work names: the
    * exact-quantile consumer `q_percentiles`, the LSH twins, harmonic
    * centrality, PageRank, BFS and the lift table. The cheap Sources,
    * Curation and Text picks read back shared artifacts or source paths. */
  val Queries = Seq("q_percentiles", "s_csv_roundtrip", "x_dedup_exact",
    "x_lm_perplexity", "x_item_cf_lsh_twins", "q_harmonic_centrality",
    "q_supplier_pagerank", "q_supplier_bfs", "q_lift_table")

  def sliceOf(q: String): String = Slices.find(_._2.contains(q)).map(_._1).get

  def run(c: Ctx): Unit = {
    val dir = c.data.resolve(Corpus).toString
    require(Files.isDirectory(c.data.resolve(Corpus)), s"corpus $dir missing")
    val artifacts =
      if (c.smoke) Shared.artifactBuilders.take(3) else Shared.artifactBuilders
    val queries = new scala.util.Random(c.seed)
      .shuffle(if (c.smoke) Queries.take(2) else Queries)

    c.setup(if (c.smoke) 1 else 3) { _ =>
      val s = c.spark.newSession()
      graft.ops.WindowAgg.hourlyFeatures(Shared.ev(s, dir)).queryExecution.toRdd.count()
    }

    val steps = ArrayBuffer.empty[Long]
    val results = ArrayBuffer.empty[(String, StructType, Array[Row])]
    var buildNs, sweepNs = 0L
    c.tracer.begin()
    val s2 = c.spark.newSession()
    artifacts.foreach { case (name, build) =>
      val t0 = System.nanoTime()
      c.attempt(s"artifact $name") {
        c.tracer.span("registry", s"Shared.$name")(build(s2, dir))
      }.foreach { _ => steps += System.nanoTime() - t0; buildNs += steps.last }
    }
    // after the builds, not the queries: what the queries leave behind
    // depends on their (seeded) order
    c.liveHeap("after the artifact builds")
    queries.foreach { q =>
      val t0 = System.nanoTime()
      c.attempt(s"query $q") {
        c.tracer.span("registry", s"${sliceOf(q)}.$q") {
          val df = SparkEntry.queries(q)(s2, dir)
          (df.schema, df.collect())
        }
      }.foreach { case (schema, rows) =>
        steps += System.nanoTime() - t0; sweepNs += steps.last
        results += ((q, schema, rows))
      }
    }
    c.tracer.finish()
    c.phase("measured")

    val a = Stats.sorted(steps)
    val label = c.opMetrics(a, a.length / ((buildNs + sweepNs) / 1e9))
    c.name("artifact_build_s", buildNs / 1e9, "s", s"${artifacts.size} artifacts, cold")
    c.name("sweep_s", sweepNs / 1e9, "s", s"${queries.size} queries, pin-warm")
    c.name("step_tail_ms", c.e2e("op_tail_ms")._1, "ms", label)
    if (c.tracer.enabled) {
      artifacts.foreach { case (n, _) =>
        c.layer(s"registry.Shared.${n}_s") =
          (c.tracer.nanos("registry", s"Shared.$n").sum / 1e9, "s")
      }
      Slices.foreach { case (slice, _) =>
        c.layer(s"registry.${slice}_s") = (c.tracer.all
          .filter(s => s.layer == "registry" && s.name.startsWith(s"$slice."))
          .map(_.nanos).sum / 1e9, "s")
      }
    }

    // dump for tools/check_oracle.py (same layout graft.Verify writes)
    val dump = c.work.resolve("oracle_dump")
    c.deleteTree(dump)
    Files.createDirectories(dump)
    results.foreach { case (q, schema, rows) =>
      c.spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.parquet(dump.resolve(q).toString)
    }
    val sql = results.flatMap { case (q, _, _) =>
      SparkEntry.oracleSql.get(q).map(s => s"${Json.str(q)}:${Json.str(s)}")
    }
    Files.writeString(dump.resolve("oracle_sql.json"), sql.mkString("{", ",", "}"))
  }
}

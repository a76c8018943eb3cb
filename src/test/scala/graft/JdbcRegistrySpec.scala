package graft

import graft.sources.JdbcRegistry
import org.apache.spark.sql.functions._

/** S9 over embedded Derby: real spark.read/write.jdbc round trips for the
  * registry flow (the s_jdbc_registry oracle verifies values end to end;
  * this spec covers the JDBC mechanics an oracle can't see — partition
  * fan-out, overwrite idempotency, registry re-publication).
  */
class JdbcRegistrySpec extends SparkSpec {
  import spark.implicits._

  private val created = scala.collection.mutable.ListBuffer[String]()

  private def freshUrl(): String = {
    val root = tempDir("graft_derby_spec_")
    created += root
    s"jdbc:derby:$root/db;create=true"
  }

  override def afterAll(): Unit = {
    created.foreach { root =>
      try java.sql.DriverManager
        .getConnection(s"jdbc:derby:$root/db;shutdown=true")
      catch { case _: java.sql.SQLException => () } // success SIGNALS via SQLException
    }
    super.afterAll()
  }

  private val feats = Seq(
    ("user_1", 1000L, "clicks", 1.5),
    ("user_2", 2000L, "clicks", 2.5),
    ("user_3", 3000L, "purchases", 10.0),
    ("user_1", 4000L, "purchases", 20.0)
  ).toDF("entity_id", "event_us", "view_name", "feature_1")

  test("JDBC write → read round-trips rows and types exactly") {
    val url = freshUrl()
    JdbcRegistry.writeTable(feats, url, "user_features")
    val back = JdbcRegistry.readTable(spark, url, "user_features")
      .select("entity_id", "event_us", "view_name", "feature_1")
      .as[(String, Long, String, Double)].collect().toSet
    assert(back == feats.as[(String, Long, String, Double)].collect().toSet)
  }

  test("partitioned read fans out to N range queries, same content") {
    val url = freshUrl()
    JdbcRegistry.writeTable(feats, url, "user_features")
    val back = JdbcRegistry.readTablePartitioned(spark, url, "user_features",
      "event_us", 1000L, 4001L, 3)
    assert(back.rdd.getNumPartitions == 3)
    assert(back.count() == 4)
    assert(back.select("entity_id", "event_us").as[(String, Long)]
      .collect().toSet ==
      feats.select("entity_id", "event_us").as[(String, Long)]
        .collect().toSet)
  }

  test("string predicates push down to the database (VARCHAR, not CLOB)") {
    // with dialect-default CLOB columns Derby rejects pushed equality
    // predicates outright, so this filter succeeding proves both the
    // pushdown and the VARCHAR column mapping
    val url = freshUrl()
    JdbcRegistry.writeTable(feats, url, "user_features")
    val clicks = JdbcRegistry.readTable(spark, url, "user_features")
      .filter($"view_name" === "clicks")
    assert(clicks.count() == 2)
    val pushed = clicks.queryExecution.executedPlan.toString
    assert(pushed.contains("PushedFilters") && pushed.contains("view_name"))
  }

  test("overwrite mode is idempotent (drop + recreate, no row duplication)") {
    val url = freshUrl()
    JdbcRegistry.writeTable(feats, url, "user_features")
    JdbcRegistry.writeTable(feats, url, "user_features")
    assert(JdbcRegistry.readTable(spark, url, "user_features").count() == 4)
  }

  test("freshness publication stores the per-view aggregate in the registry") {
    val url = freshUrl()
    val fresh = JdbcRegistry.publishFreshness(feats, "view_name", "event_us",
        "feature_1", url)
      .select("feature_view_name", "last_updated_us", "row_count", "value_sum")
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(fresh == Map(
      "clicks" -> (2000L, 2L, 4.0),
      "purchases" -> (4000L, 2L, 30.0)))
    // re-publication after new data overwrites, not appends
    val more = feats.unionByName(
      Seq(("user_9", 9000L, "clicks", 1.0))
        .toDF("entity_id", "event_us", "view_name", "feature_1"))
    val again = JdbcRegistry.publishFreshness(more, "view_name", "event_us",
        "feature_1", url)
      .filter($"feature_view_name" === "clicks")
      .select("last_updated_us", "row_count").as[(Long, Long)].collect().toList
    assert(again == List((9000L, 3L)))
  }
}

package graft.sink

import java.sql.DriverManager

import graft.SparkSpec

/** upsertBatchOnce: exactly-once guard, atomicity under mid-batch
  * failure, per-app independence.
  */
class JdbcOnceSpec extends SparkSpec {
  import spark.implicits._

  private val url = "jdbc:derby:memory:graftOnceSpec;create=true"

  private def setup(): Unit = {
    System.setProperty("derby.stream.error.file", "/tmp/derby.log")
    Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      Seq("DROP TABLE APP.T", "DROP TABLE APP.G").foreach(q =>
        try st.execute(q) catch { case _: Throwable => () })
      st.execute("CREATE TABLE APP.T (K BIGINT NOT NULL PRIMARY KEY, V BIGINT)")
      st.execute("CREATE TABLE APP.G (APP_ID VARCHAR(32) NOT NULL, " +
        "BATCH_ID BIGINT NOT NULL, PRIMARY KEY (APP_ID, BATCH_ID))")
    } finally c.close()
  }

  private def rows(kv: (Long, Long)*) =
    kv.toDF("K", "V").collect().toSeq

  private def land(b: Long, app: String, kv: (Long, Long)*): Boolean =
    JdbcSink.upsertBatchOnce(rows(kv: _*), Seq("K", "V"), url, "APP.T",
      Seq("K"), "APP.G", app, b)

  private def tableState(): Map[Long, Long] = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery("SELECT K, V FROM APP.T")
      val m = scala.collection.mutable.Map[Long, Long]()
      while (rs.next()) m(rs.getLong(1)) = rs.getLong(2)
      m.toMap
    } finally c.close()
  }

  test("a batch lands once; its replay skips whole; upsert path updates") {
    setup()
    assert(land(0L, "a", 1L -> 10L, 2L -> 20L))
    assert(!land(0L, "a", 1L -> 99L, 2L -> 99L)) // replay: skipped WHOLE
    assert(tableState() == Map(1L -> 10L, 2L -> 20L))
    assert(land(1L, "a", 1L -> 11L, 3L -> 30L)) // next batch updates + inserts
    assert(tableState() == Map(1L -> 11L, 2L -> 20L, 3L -> 30L))
  }

  test("guards are per-app: another app's batch 0 still lands") {
    setup()
    assert(land(0L, "a", 1L -> 1L))
    assert(land(0L, "b", 2L -> 2L))
    assert(tableState() == Map(1L -> 1L, 2L -> 2L))
  }

  test("mid-batch failure rolls back guard AND data; the retry lands") {
    setup()
    val bad = Seq((5L, 50L), (6L, 60L)).toDF("K", "V").collect().toSeq
      .map(identity) :+ org.apache.spark.sql.Row(null, 70L) // null PK -> fails
    intercept[Exception] {
      JdbcSink.upsertBatchOnce(bad, Seq("K", "V"), url, "APP.T",
        Seq("K"), "APP.G", "a", 7L)
    }
    assert(tableState().isEmpty, "failed batch must leave NOTHING")
    assert(land(7L, "a", 5L -> 50L, 6L -> 60L), "retry after rollback must land")
    assert(tableState() == Map(5L -> 50L, 6L -> 60L))
  }
}

package graft.queries

/** The embedded Derby store of the JDBC round-trip entries: the same
  * writer surface as ClickHouse, only the url and driver differ. */
private[queries] object Derby {

  /** [[graft.sinks.JdbcSink]] options for `table` in the in-memory
    * database `db`. Points `derby.system.home` at the temp dir first,
    * so derby.log stays out of the driver's cwd (this takes effect only
    * if Derby has not booted yet in this JVM). */
  def options(db: String, table: String): Map[String, String] = {
    System.setProperty("derby.system.home", System.getProperty("java.io.tmpdir"))
    graft.sinks.JdbcSink.options(s"jdbc:derby:memory:$db;create=true", table,
      "app", "app", numPartitions = 4, driver = "org.apache.derby.jdbc.EmbeddedDriver")
  }
}

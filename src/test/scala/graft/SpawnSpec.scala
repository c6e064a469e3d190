package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructType}

import graft.sinks.{JdbcSink, ParquetSink, Publish}
import graft.sources.CdcJson
import graft.streaming.CdcStream

/** The write path starts no file-system helper process. Without
  * Hadoop's native library, Hadoop's local file system runs `chmod`
  * for every permission it sets and `readlink` for every link status
  * it reads (`ls`/`stat` for owner and mode), and a streaming landing
  * made hundreds of them. JFR's `jdk.ProcessStart` event records each
  * process the JVM starts. */
class SpawnSpec extends SparkSpec {

  System.setProperty("derby.system.home", System.getProperty("java.io.tmpdir"))

  private val forkedTools = Set("chmod", "readlink", "ls", "stat")

  /** Commands of the processes the JVM starts while `body` runs. */
  private def spawns(body: => Unit): Seq[String] = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try body finally rec.stop()
      val out = Files.createTempFile("graft_spawns", ".jfr")
      try {
        rec.dump(out)
        RecordingFile.readAllEvents(out).asScala.toSeq.map(_.getString("command"))
      } finally Files.delete(out)
    } finally rec.close()
  }

  test("a streaming landing and a publish start no chmod, readlink, ls or stat") {
    val fs = FileSystem.get(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[GraftLocalFileSystem], s"file: is ${fs.getClass.getName}")
    val root = Files.createTempDirectory("graft_spawn").toString
    val opts = JdbcSink.options("jdbc:derby:memory:graftspawn;create=true",
      "spawn_landed", "app", "app", numPartitions = 2,
      driver = "org.apache.derby.jdbc.EmbeddedDriver")
    val commands = spawns {
      val wire = s"$root/wire"
      CdcJson.synthesizeNodeJson(Tables.load(spark, sfDir, "events").limit(300))
        .write.text(wire)
      val landable = CdcJson
        .withValidity(CdcJson.parseNodes(spark.readStream
          .schema(new StructType().add("value", StringType)).text(wire), "value"))
        .filter(col("is_valid"))
        .select(col("entity_id"), col("event_timestamp"))
      CdcStream.sinkEachBatch(landable, opts, s"$root/ck_jdbc")
      CdcStream.landMonthly(landable, "event_timestamp", s"$root/zone", s"$root/ck_zone")

      val live = new Path(s"$root/published")
      for ((dir, body) <- Seq(live -> "old", new Path(s"$root/.staged") -> "new")) {
        fs.mkdirs(dir)
        val out = fs.create(new Path(dir, "part"))
        try out.write(body.getBytes(UTF_8)) finally out.close()
      }
      Publish.replace(fs, live, new Path(s"$root/.staged"), new Path(s"$root/_prev"))
    }
    assert(JdbcSink.read(spark, opts).count() > 0, "nothing landed, so this checks nothing")
    assert(ParquetSink.readMonthly(spark, s"$root/zone").count() > 0)

    val forked = commands.filter(c => forkedTools(c.split(' ').head.split('/').last))
    assert(forked.isEmpty,
      s"${forked.size} of ${commands.size} processes were file-system helpers: " +
        forked.groupBy(_.split(' ').head).map { case (k, v) => s"$k ${v.size}" }.mkString(", "))
  }
}

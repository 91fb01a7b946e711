package graft

import org.apache.spark.sql.streaming.Trigger
import graft.streaming.{KvUpsertSink, StreamJobs, TopicTableSink}

/** CLI entry point wiring source → pipeline → sinks from arguments — the
  * rebuild of the reference's program surface (Streamer.scala:27-49 /
  * KafkaStreamerToHbase.scala:30-52: commons-cli options for brokers, topic
  * list, output topic, HBase tables). Broker/Kerberos options have no
  * sandbox analog (no Kafka jar / KDC in this image); the data path is the
  * Kafka-shaped file stream over a parquet directory, which a real
  * deployment swaps for `.format("kafka")` (SURVEY.md §7.5).
  *
  * Usage (defaults in brackets):
  *   runMain graft.Main
  *     --input_topic a,b      topic list to "subscribe" [page_visits]
  *     --output_topic out     topic-table topic for summary lines [out]
  *     --source_dir DIR       parquet dir standing in for the brokers
  *                            [/root/testdata/sf0.001]
  *     --table PATH           KV table path (summary cell + bulk rows)
  *                            [<tmp>/kv]
  *     --topic_table PATH     topic table path (producer sink) [<tmp>/topic]
  *     --mode summary|per-record|query  reference pipeline, or a registered
  *                            batch analytics query (--query NAME) [summary]
  *     --checkpoint PATH      checkpointLocation for exactly-once restart
  *     --help
  */
object Main {
  private val usage: String = """graft.Main — run a streaming pipeline against file-backed Kafka-shaped input
    |  --input_topic LIST   comma-separated topic list (label; summary line echoes it)
    |  --output_topic NAME  output topic for summary lines
    |  --source_dir DIR     parquet dir read by the file stream (events.parquet)
    |  --table PATH         KV-upsert table path
    |  --topic_table PATH   topic table path
    |  --mode MODE          summary | per-record | query
    |  --query NAME         (mode=query) registered query to run on source_dir
    |  --rows N             (mode=query) rows to print [20]
    |  --checkpoint PATH    streaming checkpoint location
    |  --help               show this help""".stripMargin

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    if (args.contains("--help")) { println(usage); return }
    if (args.length % 2 == 1) {
      println(usage)
      sys.error("malformed arguments: " + args.mkString(" "))
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft_main").toString
    val inputTopics = opts.getOrElse("input_topic", "page_visits")
    val outputTopic = opts.getOrElse("output_topic", "out")
    val sourceDir = opts.getOrElse("source_dir", "/root/testdata/sf0.001")
    val tablePath = opts.getOrElse("table", s"$tmp/kv")
    val topicPath = opts.getOrElse("topic_table", s"$tmp/topic")
    val mode = opts.getOrElse("mode", "summary")
    val checkpoint = opts.get("checkpoint")

    val spark = GraftSession()

    // subscribe: the comma list labels the stream (multi-topic subscribe is
    // source config on a real Kafka source); first topic tags the records
    // batch query mode: run any registered analytics query against a data
    // dir and print it — the full operator catalog from the same CLI
    if (mode == "query") {
      val name = opts.getOrElse("query",
        sys.error("--mode query requires --query <name>; names: " +
          SparkEntry.queries.keys.toSeq.sorted.mkString(", ")))
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query '$name'; names: " +
          SparkEntry.queries.keys.toSeq.sorted.mkString(", ")))
      fn(spark, sourceDir).show(opts.getOrElse("rows", "20").toInt, truncate = false)
      spark.stop()
      return
    }

    val stream = sources.Sources.kafkaShapedStream(
      spark, sourceDir, inputTopics.split(",").head.trim)

    val topicSink = new TopicTableSink(topicPath)
    val kvSink = new KvUpsertSink(tablePath)
    val query = mode match {
      case "summary" =>
        StreamJobs.summaryPipeline(stream, inputTopics, outputTopic,
          topicSink, kvSink, Trigger.AvailableNow(), checkpoint)
      case "per-record" =>
        StreamJobs.perRecordPipeline(stream, kvSink, Trigger.AvailableNow(),
          checkpoint)
      case other =>
        sys.error(s"unknown --mode '$other' (summary | per-record)")
    }
    // AvailableNow processes everything present, then stops — batch-style
    // run of the streaming pipeline, same as the driver smoke expectation
    query.awaitTermination()

    val kvN = kvSink.read(spark).count()
    println(s"[graft.Main] mode=$mode topics=$inputTopics -> " +
      s"kv_table=$tablePath ($kvN cells), topic_table=$topicPath" +
      (if (mode == "summary") s" (${topicSink.read(spark).count()} lines)" else ""))
    spark.stop()
  }
}

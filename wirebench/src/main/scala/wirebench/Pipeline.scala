package wirebench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.config.YamlConfig

/** The one YAML-declared pipeline both ingest workloads run:
  * parser → grep → modify → rewrite_tag → two `file` outputs by tag, plus
  * (paced only) a FluentQL windowed stream task.
  */
object Pipeline {

  val AccessRegex: String =
    """^(?<client>[0-9.]+) - (?<user>\S+) \[(?<time>[^\]]+)\] "(?<method>[A-Z]+) (?<path>\S+) HTTP/1\.1" (?<code>\d{3}) (?<size>\d+)$"""

  val WindowSql: String =
    "SELECT tag, COUNT(*) AS n FROM STREAM:CONF WINDOW TUMBLING (1 SECOND) GROUP BY tag;"

  val Filters: Seq[(String, String)] = Seq(
    "parser" ->
      """    - name: parser
        |      match: '*'
        |      key_name: log
        |      parser: access
        |      reserve_data: on
        |      preserve_key: on
        |""".stripMargin,
    "grep" ->
      """    - name: grep
        |      match: '*'
        |      exclude: log healthz
        |""".stripMargin,
    "modify" ->
      """    - name: modify
        |      match: '*'
        |      add: pipeline wirebench
        |      rename: host node
        |""".stripMargin,
    "rewrite_tag" ->
      """    - name: rewrite_tag
        |      match: 'app.*'
        |      rule: $code ^(5)\d\d$ alert.$1xx false
        |""".stripMargin)

  val OutputPatterns: Seq[String] = Seq("app.*", "alert.*")

  /** The pipeline text. `filters` selects a prefix-free subset (the layer
    * timings assemble one layer at a time); `task` adds stream tasks.
    */
  def yaml(filters: Seq[String] = Filters.map(_._1),
           tasks: Seq[(String, String)] = Nil,
           outputs: Boolean = true): String = {
    val sb = new StringBuilder
    sb ++= "parsers:\n  - name: access\n    format: regex\n"
    sb ++= s"    regex: '${AccessRegex.replace("'", "''")}'\n"
    if (tasks.nonEmpty) {
      sb ++= "stream_processor:\n"
      tasks.foreach { case (n, sql) => sb ++= s"  - name: $n\n    exec: $sql\n" }
    }
    sb ++= "pipeline:\n  inputs:\n    - name: forward\n      tag: wire\n"
    if (filters.nonEmpty) {
      sb ++= "  filters:\n"
      Filters.filter(f => filters.contains(f._1)).foreach(f => sb ++= f._2)
    }
    if (outputs) {
      sb ++= "  outputs:\n"
      OutputPatterns.foreach { p =>
        sb ++= s"    - name: file\n      match: '$p'\n      format: json\n"
      }
    }
    sb.toString
  }

  /** The Forward source's (tag, ts, record map) promoted to the columns
    * the filters address. `ts_sec` is what batch FluentQL windows use.
    */
  def promote(df: DataFrame): DataFrame = df.select(
    col("tag"), col("ts"), unix_seconds(col("ts")).as("ts_sec"),
    col("record").getItem("seq").as("seq"),
    col("record").getItem("host").as("host"),
    col("record").getItem("log").as("log"))

  def assemble(spark: SparkSession, text: String, input: DataFrame): Map[String, DataFrame] =
    YamlConfig.assemble(spark, text, Map("wire" -> promote(input)))

  /** Every output in one frame `(out, line)`, so one streaming query (one
    * bound port) feeds all of them. Stream-task rows become JSON lines.
    */
  def union(outs: Map[String, DataFrame]): DataFrame =
    outs.toSeq.sortBy(_._1).map { case (id, df) =>
      val line =
        if (id.startsWith("stream_task:")) to_json(struct(df.columns.distinct.map(col).toSeq: _*))
        else col("line")
      df.select(lit(id).as("out"), line.as("line"))
    }.reduce(_ unionByName _)

  val SourceSchema: StructType = StructType(Seq(
    StructField("tag", StringType), StructField("ts_us", LongType),
    StructField("record", MapType(StringType, StringType))))

  /** The corpus as the Forward source delivers it (one partition), as a
    * batch frame.
    */
  def batchSource(spark: SparkSession, recs: Seq[(Corpus.Rec, Long)]): DataFrame = {
    val rows = recs.map { case (r, ns) => Row(r.tag, ns / 1000L, r.fields.toMap) }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      SourceSchema)
      .select(col("tag"), timestamp_micros(col("ts_us")).as("ts"), col("record"))
  }

  /** Count and digest of every `file` output of the batch pipeline over
    * the same records: what the streaming sink must reproduce. All outputs
    * run as one job, as the streaming sink runs them.
    */
  def reference(spark: SparkSession, text: String,
                recs: Seq[(Corpus.Rec, Long)]): Map[String, (Long, Long)] = {
    val files = assemble(spark, text, batchSource(spark, recs)).filter(_._1.startsWith("file:"))
    val got = union(files).rdd.mapPartitions { it =>
      val acc = scala.collection.mutable.Map[String, (Long, Long)]()
      it.foreach { r =>
        val (n, d) = acc.getOrElse(r.getString(0), (0L, 0L))
        acc(r.getString(0)) = (n + 1, d + Sink.hash(r.getString(1)))
      }
      acc.iterator
    }.collect().groupMapReduce(_._1)(_._2)((a, b) => (a._1 + b._1, a._2 + b._2))
    files.keys.map(id => id -> got.getOrElse(id, (0L, 0L))).toMap
  }
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Graft.table
import graft.sinks.XmlSinks

/**
 * Sink-side data facts (SURVEY §2.1 K1/K3): the per-variable
 * max-observed-length and has-collected-data that the export's one read of
 * each dataset ([[XmlSinks.facts]]) gives the XPT and Define-XML writers,
 * so they get their own oracle. The writers themselves are pinned
 * byte-/string-level in ScalaTest (XptSpec round trips, XmlSinksSpec
 * structure).
 */
object SinkQueries {

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "k1_varstats" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val stats = XmlSinks.facts(d.select("lang", "source", "text")).stats
      import s.implicits._
      Seq("lang", "source", "text").map { c =>
        (c, stats(c).maxLength, stats(c).hasData)
      }.toDF("colname", "max_len", "has_data").orderBy("colname")
    })
  )

  val oracles: Map[String, String] = Map(
    "k1_varstats" ->
      (Seq("lang", "source", "text").map { c =>
        s"""SELECT '$c' AS colname,
           |  CAST(MAX(length(rtrim(coalesce(CAST($c AS VARCHAR), '')))) AS INT) AS max_len,
           |  MAX(CASE WHEN trim(coalesce(CAST($c AS VARCHAR), '')) <> '' THEN 1 ELSE 0 END) = 1 AS has_data
           |FROM documents""".stripMargin
      }.mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY colname"))
  )
}

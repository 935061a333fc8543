package graft

/** Dev probe: registry-wide empty-corpus robustness. Zero-row inputs are
  * the canonical production edge — a fresh table, a partition that
  * filtered to nothing, a backfill gap. Operators must degrade to empty
  * (or defined-empty) OUTPUT, not driver exceptions from `head()` on an
  * empty relation, division by a zero count, or a collect-trained model
  * with no training rows.
  *
  * Builds a zero-row copy of every driver table (schemas read from
  * sf0.001, nanos setting matched) and runs every registered query
  * against it, reporting OK rows=N or the exception. Failures are triaged
  * in PLANS.md: real empty-input bugs get fixed; queries whose CONTRACT
  * needs data (fixture-arithmetic gates) get documented as such.
  *
  * Run: sbt "Test/runMain graft.EmptyCorpusProbe".
  */
object EmptyCorpusProbe {
  def main(args: Array[String]): Unit = {
    // optional arg: keep N rows per table instead of zero (the n=1 corpus
    // exercises the other degenerate family — windows over one row,
    // quantiles of one, self-joins with no second element)
    val keep = if (args.nonEmpty) args(0).toInt else 0
    val srcDir = "/root/testdata/sf0.001"
    val dir = s"/tmp/graft_sf_empty$keep"
    val spark = LocalSession(8)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // negative keep = |keep| rows with every NON-KEY column nulled (the
    // null-heavy corpus: damaged crawl columns, late-arriving enrichment);
    // keep == 9999 = adversarial text (exotic unicode, huge single
    // tokens, control chars) in documents.text, other tables tiny
    val weird = keep == 9999
    val nullify = keep < 0
    Tables.all.foreach { t =>
      val src = spark.read.parquet(s"$srcDir/$t.parquet")
      val out =
        if (weird) {
          import org.apache.spark.sql.functions.{col => c, _}
          val base = src.limit(20)
          if (t != "documents") base
          else base.withColumn("text", element_at(array(
            lit("\u0001\u0002 control \u0007 chars"),
            lit("émoji 😀🤖 mixed 中文 العربية text"),
            lit("a" * 50000), // one 50k-char token, no whitespace
            lit((("tok " * 2000).trim)), // many tiny tokens
            lit("\n\t\r       "), // whitespace zoo
            lit("\"quotes\" 'and' \\backslashes\\ {json: breakers}"),
            lit("�﻿ replacement and BOM"),
            lit("")),
            (pmod(c("doc_id"), lit(8)) + 1).cast("int")))
        }
        else if (keep == 0)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], src.schema)
        else if (!nullify) src.limit(keep)
        else {
          val key = src.columns.head
          src.limit(-keep).select(src.columns.toSeq.map { c =>
            if (c == key) org.apache.spark.sql.functions.col(c)
            else org.apache.spark.sql.functions.lit(null)
              .cast(src.schema(c).dataType).as(c)
          }: _*)
        }
      out.coalesce(1).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }

    var bad = List.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val n = fn(spark, dir).count()
        println(s"[empty-probe] $name OK rows=$n")
      } catch { case e: Throwable =>
        val root = {
          var c: Throwable = e
          while (c.getCause != null && c.getCause != c) c = c.getCause
          c
        }
        println(s"[empty-probe] $name ERROR ${root.getClass.getSimpleName}: " +
          s"${Option(root.getMessage).getOrElse("").linesIterator.take(1).mkString}")
        bad ::= name
      }
    }
    println(s"[empty-probe] SUMMARY failed=${bad.size} ${bad.reverse.mkString(",")}")
    spark.stop()
  }
}

package graft.ops

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-13 widening, part 16: word-frequency spectrum, whole-file
  * text ingestion, and scan-partition sizing.
  */
object Round13Ops16 {

  /** The frequency spectrum in octaves: how many distinct words fall
    * in each power-of-two occurrence band (band k ⇔ count in
    * [2^(k-1), 2^k)) — the corpus-health curve LNRE/vocabulary models
    * fit; a natural corpus shows geometric decay across bands. The
    * band index is length(bin(c)) — pure integer/string arithmetic,
    * no floating log2 near power boundaries. Two hash aggregates:
    * explode→word counts (vocabulary-bounded), counts→spectrum; at
    * 100 TB the first aggregate's map-side combine does nearly all
    * the work.
    */
  def textFreqSpectrum(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    documents(spark, sfDir)
      .select(explode(split($"text", " ")).as("w"))
      .filter(length($"w") > 0)
      .groupBy($"w").agg(count(lit(1)).as("c"))
      .select(length(bin($"c")).cast(LongType).as("band"),
        $"c")
      .groupBy($"band")
      .agg(count(lit(1)).as("n_words"), min($"c").as("min_count"),
        max($"c").as("max_count"))
      .orderBy($"band")
  }

  /** Whole-file text ingestion: 16 documents exported one file each,
    * re-read with `wholetext` so every file is ONE row — the
    * contract that matters when a "record" is a whole transcript or
    * source file and line-splitting would shred it. Content equality
    * is pinned through md5 + length against the source rows.
    */
  def sourceWholetext(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = runDir("r13_whole", sfDir)
    val docs = documents(spark, sfDir).filter($"doc_id" < 16)
    // partitionBy gives one directory — and thus one file — per doc,
    // so wholetext reads back exactly one row per document
    docs.select($"text", $"doc_id")
      .write.mode("overwrite").partitionBy("doc_id").text(dir)
    spark.read.option("wholetext", "true").text(dir)
      // wholetext keeps the trailing newline the line writer appends;
      // strip exactly that one delimiter to recover the source text
      .select(expr("substring(value, 1, length(value) - 1)").as("text"))
      .select(md5($"text").as("text_md5"), length($"text").as("n_chars"))
      .orderBy($"text_md5")
  }

  /** Scan-partition sizing: the same aggregate under a 256 MiB and a
    * 64 KiB `files.maxPartitionBytes` — results identical (pinned by
    * the oracle), scan parallelism not (pinned in Round13Spec16:
    * smaller target ⇒ strictly more input partitions). This is the
    * first knob a 100 TB scan tunes: partitions must be small enough
    * to parallelize and big enough to amortize footer reads.
    */
  def scaleScanPartitionTuning(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
      lineitem(spark, sfDir)
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum($"l_quantity".cast(IntegerType)).as("sum_qty"))
        .orderBy($"l_returnflag")
        // materialize the plan under the small target before restoring
        .localCheckpoint()
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }
}

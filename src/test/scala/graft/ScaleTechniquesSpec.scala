package graft

import graft.ops.ScaleTechniques
import org.apache.spark.SparkFiles
import org.apache.spark.sql.Row
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.atomic.AtomicInteger

/** The scratch directory behind every derived file: materializeOnce
  * builds each key once per context, under SparkFiles' root, and never
  * serves a failed build; and no op that writes derived files leaves
  * anything under /tmp.
  */
class ScaleTechniquesSpec extends AnyFunSuite with SparkFixture with BeforeAndAfterAll {

  // the scratch directory belongs to a running context
  override def beforeAll(): Unit = spark

  private def uniqueKey(name: String): String =
    s"spec_${name}_${java.util.UUID.randomUUID().toString.take(8)}"

  test("materializeOnce: four concurrent callers of one key run write once") {
    import spark.implicits._
    val key = uniqueKey("concurrent")
    val writes = new AtomicInteger
    val start = new java.util.concurrent.CountDownLatch(1)
    val paths = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (1 to 4).map { _ =>
      val th = new Thread(() => {
        start.await()
        paths.add(ScaleTechniques.materializeOnce(key) { p =>
          writes.incrementAndGet()
          Seq(1L, 2L, 3L).toDF("x").write.parquet(p)
        })
      })
      th.start(); th
    }
    start.countDown()
    threads.foreach(_.join())
    assert(writes.get === 1)
    assert(paths.toArray.distinct.length === 1)
    assert(spark.read.parquet(paths.peek()).as[Long].collect().sorted === Array(1L, 2L, 3L))
  }

  test("materializeOnce: the path lies under SparkFiles.getRootDirectory()") {
    val path = ScaleTechniques.materializeOnce(uniqueKey("root")) { p =>
      new java.io.File(p).mkdirs()
    }
    val root = new java.io.File(SparkFiles.getRootDirectory()).getCanonicalPath
    assert(new java.io.File(path).getCanonicalPath.startsWith(root + java.io.File.separator))
    assert(path.startsWith(Tables.scratchPath("")))
  }

  test("materializeOnce: a build that throws after writing part of its output is rebuilt") {
    import spark.implicits._
    val key = uniqueKey("throws")
    val writes = new AtomicInteger
    val e = intercept[IllegalStateException] {
      ScaleTechniques.materializeOnce(key) { p =>
        writes.incrementAndGet()
        Seq(9L).toDF("x").write.parquet(p)
        throw new IllegalStateException("second half failed")
      }
    }
    assert(e.getMessage === "second half failed")
    // the default ErrorIfExists write only succeeds once the leftover is gone
    val path = ScaleTechniques.materializeOnce(key) { p =>
      writes.incrementAndGet()
      Seq(1L).toDF("x").write.parquet(p)
    }
    assert(spark.read.parquet(path).collect() === Array(Row(1L)))
    ScaleTechniques.materializeOnce(key)(_ => writes.incrementAndGet())
    assert(writes.get === 2)
  }

  test("materializeOnce: a build that reads another key's build inside it completes") {
    import spark.implicits._
    val (outerKey, innerKey) = (uniqueKey("outer"), uniqueKey("inner"))
    val writes = new AtomicInteger
    def inner(): String = ScaleTechniques.materializeOnce(innerKey) { p =>
      writes.incrementAndGet()
      Seq(1L, 2L).toDF("x").write.parquet(p)
    }
    val outer = ScaleTechniques.materializeOnce(outerKey) { p =>
      writes.incrementAndGet()
      spark.read.parquet(inner()).select(($"x" * 10).as("x")).write.parquet(p)
    }
    assert(spark.read.parquet(outer).as[Long].collect().sorted === Array(10L, 20L))
    assert(spark.read.parquet(inner()).count() === 2)
    assert(writes.get === 2)
  }

  // every op that reads or writes a materializeOnce artifact, the
  // bucketed tables, a per-op run directory or the saved forest
  private val derivedFileOps = Seq(
    // on the co-supply graph
    "graph_degree_distribution", "graph_shortest_path", "graph_triangle_count",
    "graph_adamic_adar", "graph_kcore_peel", "graph_katz_centrality",
    "graph_harmonic_centrality", "graph_modularity", "graph_personalized_pagerank",
    "graph_clustering_coeff", "graph_assortativity", "graph_jaccard_neighbors",
    "graph_random_walk_visits", "graph_ktruss_2round", "graph_pseudo_diameter",
    "graph_rich_club",
    // on the label propagation and near-dup cluster artifacts
    "graph_label_propagation", "graph_conductance", "dedup_connected_components",
    "pipeline_dedup_survivorship", "dedup_cluster_size_histogram",
    // IVF, BPE and minhash indexes
    "sim_ann_index_persist", "sim_ann_index_batch_probe", "sim_ivf_nprobe_sweep",
    "dedup_semantic_cluster", "ml_bpe_apply", "dedup_minhash_index_persist",
    // bucketed tables and partitioned events
    "join_bucketed_colocated", "scan_partition_pruning", "scale_dpp_join",
    "scan_metadata_columns",
    // the other materialized layouts
    "pipeline_compact_small_files", "source_text_roundtrip",
    "source_csv_quoted_multiline", "scale_sorted_skipping",
    "pipeline_backfill_partition", "source_binaryfile",
    // per-op run directories
    "source_csv_roundtrip", "source_json_roundtrip", "source_csv_malformed",
    "source_orc_roundtrip", "source_xml_roundtrip", "source_json_corrupt_records",
    "source_path_glob", "source_wholetext", "pipeline_offset_resume",
    "source_partition_type_inference", "source_compressed_roundtrip",
    "source_partitioned_roundtrip", "source_csv_multichar_delim",
    "source_json_multiline", "sql_ctas_insert", "scan_nested_pruning",
    "scan_merge_schema", "source_parquet_bloom_roundtrip", "source_ignore_corrupt",
    "pipeline_write_audit_publish", "source_schema_evolution",
    "source_nested_roundtrip", "pipeline_partition_file_stats",
    "source_dynamic_partition_overwrite",
    // the saved forest
    "ml_rf_save_load")

  test("the ops that derive files add nothing under /tmp, only to the scratch directory") {
    val leak = "graft_mat|graft_bucketed|graft_models|graft_.*_local-.*".r
    // (name, mtime): a write into an entry left by an earlier run shows too
    def tmpEntries(): Set[(String, Long)] =
      Option(new java.io.File("/tmp").listFiles()).getOrElse(Array.empty)
        .filter(f => leak.matches(f.getName)).map(f => f.getName -> f.lastModified).toSet
    val before = tmpEntries()
    derivedFileOps.foreach { name =>
      SparkEntry.queries(name)(spark, sf).write.format("noop").mode("overwrite").save()
    }
    assert(tmpEntries() -- before === Set.empty[(String, Long)])
    Seq("mat", "bucketed").foreach { sub =>
      assert(new java.io.File(Tables.scratchPath(sub)).list().nonEmpty, sub)
    }
    assert(new java.io.File(Tables.runDir("rf_model", sf)).isDirectory)
  }
}

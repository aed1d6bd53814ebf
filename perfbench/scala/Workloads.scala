package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.functions.md5Bucket
import graft.operators.Dedup

/** One timed call of a pass. A query step builds a DataFrame and writes
  * it (the output is then checked against `oracle`'s DuckDB SQL); a
  * write step persists a sidecar and has no output of its own. */
sealed trait Step { def name: String }
final case class QueryStep(name: String, oracle: String,
    build: (SparkSession, String, Path) => DataFrame) extends Step
final case class WriteStep(name: String,
    write: (SparkSession, String, Path) => Unit) extends Step

/** A named mix; its tables are generated by perfbench/gen.py. */
final case class Workload(name: String, steps: Seq[Step])

object Workloads {
  /** Step `step` runs query `name` and is checked against its oracle. */
  private def query(step: String, name: String): QueryStep = {
    require(SparkEntry.queries.contains(name), s"unknown query $name")
    QueryStep(step, name, (s, dir, _) => SparkEntry.queries(name)(s, dir))
  }
  private def queries(names: String*): Seq[Step] = names.map(n => query(n, n))

  val iterative = Workload("iterative",
    steps = queries("q_pagerank_converged", "q_dedup_semantic"))

  // The corpus/batch split is the md5Bucket split of q_incremental_*.
  private def split(s: SparkSession, dir: String, table: String,
                    id: String, corpus: Boolean): DataFrame = {
    val b = md5Bucket(col(id), 100L)
    graft.Tables(s, dir, table).filter(if (corpus) b < 80 else b >= 80)
  }

  val ingest = Workload("ingest",
    steps = Seq(
      WriteStep("write_chain_sigs", (s, dir, side) =>
        Dedup.chainSignatures(
            split(s, dir, "documents", "doc_id", corpus = true)
              .select(col("doc_id"), col("text")), "doc_id", "text")
          .write.mode("overwrite").parquet(side.resolve("chain_sigs").toString)),
      QueryStep("classify_neardup", "q_incremental_neardup", (s, dir, side) =>
        Dedup.incrementalNearDup(
            split(s, dir, "documents", "doc_id", corpus = false)
              .select(col("doc_id"), col("text")),
            split(s, dir, "documents", "doc_id", corpus = true)
              .select(col("doc_id"), col("text")),
            s.read.parquet(side.resolve("chain_sigs").toString),
            "doc_id", "text", threshold = 0.5)
          .orderBy(col("doc_id"))),
      query("classify_exact", "q_incremental_dedup")))

  val all: Seq[Workload] = Seq(iterative, ingest)

  def byName(name: String): Workload = all.find(_.name == name).getOrElse(
    sys.error(s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))
}

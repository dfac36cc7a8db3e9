package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}

import graft.dedup.Dedup
import graft.functions.TextFunctions

/** Closed loop, one client: each pass runs a curation chain built only from
  * public graft functions over the seeded corpus, so executor kernels,
  * dedup and the shuffle do most of the work. */
final class Curate(a: Args) extends Workload {
  private def docs(spark: SparkSession): DataFrame = graft.Tables.documents(spark, a.data)
  private var nDocs = 0L
  private var primeRows = Seq.empty[(String, Long, Long)]

  def open(spark: SparkSession): Unit = nDocs = docs(spark).count()

  def prime(spark: SparkSession): Map[String, Any] = {
    val d = docs(spark)
    val out = s"${a.out}/outputs"
    Curate.survivors(d).select("doc_id").write.mode("overwrite").parquet(s"$out/exact_survivors")
    Curate.candidates(Curate.survivors(d), nDocs).write.mode("overwrite").parquet(s"$out/candidates")
    primeRows = Curate.collect(Curate.chain(d, nDocs))
    val warmEnd = Trace.nowUs + Curate.WarmSeconds * 1000000L
    var warmWrong = 0
    while (Trace.nowUs < warmEnd)
      if (Curate.collect(Curate.chain(docs(spark), nDocs)) != primeRows) warmWrong += 1
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      Json(Map("q_lang_id" -> graft.OracleSql.all("q_lang_id"),
        "q_quality" -> graft.OracleSql.all("q_quality"))))
    Map("docs" -> nDocs, "lang_totals" -> primeRows.map(r => Seq(r._1, r._2, r._3)),
      "quality_min" -> Curate.QualityMin, "warm_wrong" -> warmWrong)
  }

  def measure(spark: SparkSession, w: Window): Map[String, Any] = {
    val ops = ArrayBuffer.empty[Op]
    var opId = 0L
    while (w.open) {
      val traced = w.poll(spark)
      opId += 1
      val start = Trace.nowUs
      val ok = try Trace.span("pass", "op", opId) {
        val df = Trace.span("build", "api", opId)(Curate.chain(docs(spark), nDocs))
        Trace.span("action", "action", opId)(Curate.collect(df)) == primeRows
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] curate pass failed: $e")
        false
      }
      ops += Op("pass", start, Trace.nowUs, ok, traced)
    }
    Map("ops" -> ops.map(o => Map("name" -> o.name, "start_us" -> o.startUs,
      "end_us" -> o.endUs, "ok" -> o.ok, "traced" -> o.traced)).toList)
  }

  override def traceExtras(spark: SparkSession): Map[String, Any] =
    Curate.layerRuns(spark, a, docs(spark), nDocs)
}

object Curate {
  /** Minimum `TextFunctions.qualityScore` a document needs to be kept. */
  val QualityMin = 0.35

  /** Seconds of passes, each checked like the window's, run before the
    * window, so that it starts after the JIT has compiled most of Spark's
    * driver code rather than while it does; the first passes run up to a
    * third slower than later ones. */
  val WarmSeconds = 12

  /** Exact dedup: the documents `Dedup.exact` keeps (one per distinct text). */
  def survivors(docs: DataFrame): DataFrame =
    docs.join(Dedup.exact(docs).select(F.col("keep_id").as("doc_id")), Seq("doc_id"), "left_semi")

  def candidates(survivors: DataFrame, nDocs: Long): DataFrame =
    Dedup.minhashCandidates(survivors, knownDocCount = nDocs)

  /** Near-dup removal: of each MinHash candidate pair the larger id goes. */
  def kept(docs: DataFrame, nDocs: Long): DataFrame = {
    val s = survivors(docs)
    s.join(candidates(s, nDocs).select(F.col("doc_b").as("doc_id")), Seq("doc_id"), "left_anti")
  }

  def scored(docs: DataFrame, nDocs: Long): DataFrame =
    kept(docs, nDocs)
      .withColumn("quality", TextFunctions.qualityScore(F.col("text")))
      .withColumn("pred_lang", TextFunctions.langId(F.col("text")))
      .filter(F.col("quality") >= QualityMin && F.col("pred_lang") =!= "und")

  /** The whole chain: per-language document and token totals. */
  def chain(docs: DataFrame, nDocs: Long): DataFrame =
    scored(docs, nDocs).groupBy("pred_lang").agg(
      F.count(F.lit(1)).as("docs"),
      F.sum(TextFunctions.tokenCount(F.col("text"))).as("tokens"))

  def collect(df: DataFrame): Seq[(String, Long, Long)] =
    df.collect().toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)

  val PrefixRounds = 3

  /** Traced-run extras: per-operator time as the difference between passes
    * of the chain truncated after each operator, and the same full pass on a
    * one-slot session as the single-threaded baseline. */
  def layerRuns(spark: SparkSession, a: Args, docs: DataFrame, nDocs: Long): Map[String, Any] = {
    val prefixes: Seq[(String, () => Unit)] = Seq(
      "exact" -> (() => { survivors(docs).count(); () }),
      "minhash" -> (() => { kept(docs, nDocs).count(); () }),
      "quality_langid" -> (() => { scored(docs, nDocs).count(); () }),
      "aggregate" -> (() => { collect(chain(docs, nDocs)); () }))
    // Rounds of all prefixes in turn; each prefix's median over the rounds.
    val rounds = Seq.fill(PrefixRounds)(prefixes.map { case (name, run) =>
      val t = Trace.nowUs
      run()
      name -> (Trace.nowUs - t) / 1000.0
    })
    val times = prefixes.map { case (name, _) =>
      val ms = rounds.map(_.toMap.apply(name)).sorted
      name -> ms(ms.size / 2)
    }
    spark.stop()
    val one = Main.session(a, 1)
    val oneSlotS = try {
      val t1 = Trace.nowUs
      collect(chain(graft.Tables.documents(one, a.data), nDocs))
      (Trace.nowUs - t1) / 1e6
    } finally one.stop()
    Map("prefix_ms" -> times.toMap, "one_slot_pass_s" -> oneSlotS)
  }
}

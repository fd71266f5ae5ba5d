package perfbench

import java.nio.file.{Files, Paths}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.DurationInt
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.ml.{Dedup, Eval}
import graft.ops.Scale
import graft.text.{Bpe, Classify}

/** The siuba-surface queries: SparkEntry's core, join, window, reshape and
  * scalar families, each answered from the generated TPC-H-like tables. A
  * run is made of whole passes over all of them, each pass in a seeded order. */
final class Verbs(inputs: String, work: String, seed: Long) extends Workload {
  private val queries = SparkEntry.queries
  private val rnd = new scala.util.Random(seed)
  private var order = IndexedSeq.empty[String]
  private var writes = 0

  def oracle: Set[String] = Verbs.Names.toSet
  override def pass: Int = Verbs.Names.size

  /** Writes the answer out: the write consumes every output column, so none
    * can be pruned away, and the files are what the oracle check reads. */
  private def answer(r: Run, df: DataFrame): String = {
    writes += 1
    val out = s"$work/out/$writes"
    r.span("spark.exec")(df.write.parquet(out))
    out
  }

  def setup(r: Run, round: Int): Unit = {
    Verbs.Tables.foreach(t => r.spark.read.parquet(s"$inputs/$t.parquet").schema)
    answer(r, queries("q1_agg")(r.spark, inputs))
  }

  /** The i-th query of the pass's seeded order. There is no per-query
    * warm-up: each timed query is the first run of that query in a warmed-up
    * session, as when an analyst runs a new pipeline. A warm-up pass would
    * double the run's length. */
  def op(r: Run, i: Int): Op = {
    val n = Verbs.Names.size
    if (i % n == 0) order = rnd.shuffle(Verbs.Names.toIndexedSeq)
    val q = order(i % n)
    Op(q, () => answer(r, r.span("verbs.build")(queries(q)(r.spark, inputs))))
  }

  /** The answer with one row too many. */
  def corrupt(r: Run, answer: Any): Any = {
    val df = r.spark.read.parquet(answer.toString)
    this.answer(r, df.union(df.limit(1)))
  }
}

object Verbs {
  val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents")
  val Names = Seq(
    // core verbs
    "q1_agg", "q_select", "q_rename", "q_mutate", "q_transmute", "q_filter",
    "q_filter_grouped", "q_mutate_grouped", "q_arrange_head", "q_distinct",
    "q_distinct_computed", "q_summarize_stats", "q_count", "q_count_wt",
    "q_count_expr", "q_add_count", "q_top_n", "q_union", "q_if_else",
    "q_case_when", "q_missing", "q_cast",
    // joins
    "q_inner_join", "q_left_join", "q_right_join", "q_full_join",
    "q_semi_join", "q_anti_join", "q_join_inferred", "q_join_multi",
    // window functions
    "q_window_ranks", "q_window_offsets", "q_window_cum", "q_window_nth",
    "q_window_fill", "q_avg_rank",
    // reshape
    "q_gather", "q_spread", "q_pivot_longer", "q_pivot_wider",
    "q_pivot_wider_idexpand", "q_nest_unnest", "q_separate",
    "q_separate_rows", "q_tally", "q_unite", "q_extract", "q_expand_complete",
    // scalar families
    "q_str_ops", "q_dt_ops", "q_dt_period", "q_across", "q_forcats_lump",
    "q_forcats_recode")
}

/** The q_lifecycle_e2e chain, composed from the same public calls with the
  * same arguments, one span per leg. */
final class Curate(inputs: String, work: String) extends Workload {
  private var passes = 0
  private var lastOut = ""
  def oracle: Set[String] = Set("q_lifecycle_e2e")

  private def pass(r: Run): Array[Row] = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val s = r.spark
    val t = r.tracer
    passes += 1
    val out = s"$work/curate/pass$passes"
    lastOut = out
    val docs = s.read.parquet(s"$inputs/documents.parquet")
    val ctx = t.context
    val fIdx = Future(t.span("curate.index_build", ctx)(t.span("store.minhash_build")(
      Dedup.buildMinhashIndex(docs.filter(col("doc_id") % 2 === 0), "doc_id",
        "text", s"$out/index", n = 3, bands = 16, rows = 2, seed = 42L,
        portable = true))))
    val fTok = Future(t.span("curate.tokenizer_train", ctx)(Bpe.buildTokenizer(
      docs, "text", s"$out/tok", nMerges = 8, sepToken = true)))
    val (scored, gated) = r.span("curate.gate") {
      val lab = docs.withColumn("cls",
        when(col("lang") === "en", lit("pos")).otherwise(lit("neg")))
      val train = lab.filter(col("doc_id") % 2 === 0)
      val wc = Classify.nbWordCounts(train, "cls", "text")
      val stats = Classify.nbClassStats(train, "cls", "text").collect()
        .map(x => (x.getAs[String]("cls"), x.getAs[Long]("n_docs"),
          x.getAs[Long]("n_tokens"))).toSeq
      val scores = Classify.nbScoresAll(lab.filter(col("doc_id") % 2 =!= 0),
        "doc_id", "text", wc, stats, vocab = Classify.nbVocab(wc),
        totalDocs = stats.map(_._2).sum)
      val scored = Dedup.trackCache(scores.groupBy("doc_id")
        .agg(max(when(col("cls") === "pos", col("score"))).as("sp"),
          max(when(col("cls") === "neg", col("score"))).as("sn"))
        .select(col("doc_id"), round(col("sp") - col("sn"), 6).as("s"))
        .join(docs.select(col("doc_id"), (col("lang") === "en").as("truth")),
          "doc_id"))
      val pr = Eval.prCurve(scored, "truth", "s")
      val thr = pr.filter(col("recall") >= Curate.GateRecall).agg(max("s")).head()
      require(!thr.isNullAt(0), "the admission gate found no threshold")
      (scored, docs.join(scored.filter(col("s") >= thr.getDouble(0))
        .select("doc_id"), Seq("doc_id"), "left_semi"))
    }
    val dec = r.span("curate.decontam")(Dedup.decontaminateBloom(gated,
      "doc_id", "text", docs.filter(col("doc_id") % 10 === 0), "text", n = 3,
      maxContaminatedFrac = 0.5))
    val admitted = r.span("curate.dedup") {
      Await.result(fIdx, 10.minutes)
      r.span("store.minhash_ingest")(Dedup.trackCache(Dedup.ingestDedup(s,
        s"$out/index", dec, "doc_id", "text", threshold = 0.3)))
    }
    val (ids, sep) = r.span("curate.tokenize") {
      Await.result(fTok, 10.minutes)
      r.span("store.tokenizer_read")((Dedup.trackCache(Bpe.encodeDocsFromTokenizer(
        s, s"$out/tok", admitted, "doc_id", "text")), Bpe.tokenizerMeta(s, s"$out/tok")._1))
    }
    val (w, batches) = r.span("curate.pack")(
      (Scale.contextWindows(ids, "doc_id", "ids", windowLen = 64, insertSep = sep),
        Scale.lengthGroupedBatches(ids, "doc_id", col("n_tokens"), nBuckets = 4,
          batchBudget = 2048L)))
    r.span("curate.card") {
      val srcOf = admitted.select(col("doc_id"), col("source"))
      val dCard = srcOf.join(ids.select("doc_id", "n_tokens"), Seq("doc_id"))
        .groupBy("source").agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("n_tokens"),
          expr("bit_xor(CAST(conv(substring(md5(CAST(doc_id AS STRING)), " +
            "1, 15), 16, 10) AS LONG))").as("fingerprint"))
      val wSrc = w.select(col("window_id"), explode(col("spans")).as("sp"))
        .select(col("window_id"), col("sp.doc_id").as("doc_id"))
        .join(srcOf, Seq("doc_id"))
        .groupBy("source").agg(count_distinct(col("window_id")).as("n_windows"))
      val bSrc = batches.join(srcOf, Seq("doc_id"))
        .groupBy("source")
        .agg(count_distinct(col("bucket") * 1000000L + col("batch"))
          .as("n_batches"))
      val vocabK = Bpe.vocabTruncate(s.read.parquet(s"$out/tok/vocab"),
        Curate.CardVocabK)
      val oovSrc = ids.select(col("doc_id"), explode(col("ids")).as("token_id"))
        .join(broadcast(vocabK.select(col("token_id"), lit(1).as("__in"))),
          Seq("token_id"), "left")
        .join(srcOf, Seq("doc_id"))
        .groupBy("source")
        .agg(coalesce(sum(when(col("__in").isNull, 1L)), lit(0L)).as("n_oov"))
      val gateEce = Eval.calibrationReport(scored, "truth", "s")
        .select("ece").head().getDouble(0)
      r.collect(dCard.join(wSrc, Seq("source")).join(bSrc, Seq("source"))
        .join(oovSrc, Seq("source"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("n_windows"), col("n_batches"), col("fingerprint"),
          col("n_oov"), round(col("n_oov") / col("n_tokens"), 6).as("oov_rate"),
          lit(gateEce).as("gate_ece")))
    }
  }

  def setup(r: Run, round: Int): Unit =
    r.spark.read.parquet(s"$inputs/documents.parquet").count()

  /** One warm-up pass, once per run: a whole pass per set-up would cost more
    * than the timed run itself. It is the JVM's first pass, which compiles
    * every plan's generated code, and it reads the timed corpus, so the timed
    * passes find that code compiled. */
  override def warmUp(r: Run): Unit = pass(r)

  def op(r: Run, i: Int): Op =
    Op("lifecycle", () => pass(r).map(_.toSeq).toSeq)

  def corrupt(r: Run, answer: Any): Any = answer match {
    case rows: Seq[Seq[Any]] @unchecked => rows.tail
  }

  /** The index and tokenizer artifacts the pass persisted. */
  override def afterOp(r: Run): Map[String, Double] = {
    val files = Curate.dirFiles(lastOut)
    Map("store.files_written" -> files.size.toDouble,
      "store.bytes_written" -> files.map(_._2).sum.toDouble,
      "store.live_bytes" -> files.map(_._2).sum.toDouble)
  }
}

object Curate {
  val GateRecall = 0.8
  val CardVocabK = 16L

  /** Regular files under `root`, with their sizes. */
  def dirFiles(root: String): Seq[(String, Long)] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toList
      finally s.close()
    }
  }
}

package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.operators.{Dedup, IvfIndex, Pipeline, Similarity, TextOps}

/** Training-data preparation: batch passes of a fixed chain of
  * `graft.operators` calls over a seeded synthetic corpus (documents
  * with planted near-duplicates and a language mix, plus clustered
  * embeddings). The lake layers do no work here, so a lake change
  * should not move it, and an operator change has a place to show.
  *
  * A run times ⌊seconds ÷ [[PassSeconds]]⌋ batch passes (at least one)
  * in a fresh JVM, the first with JIT and code generation cold, as a
  * batch job runs. Each pass reads a fresh copy of the inputs, so every engine
  * cache keyed by input location (IVF centroids, label fixtures,
  * row-count memos) starts cold. Each stage is one operation: the
  * engine computes it and writes it as parquet, which
  * `corpus_oracle.py` checks against DuckDB. Query stages (BM25 search,
  * the two k-NN searches) count as reads, the stages that derive a
  * dataset from the corpus as writes.
  */
object CorpusPipeline {
  val Docs = 6000
  val Vectors = 3000
  // a pass over a small corpus, after the timed window, is checked
  // against every oracle; the oracles of the MinHash and ANN stages
  // replay their integer training in SQL and take minutes at full size.
  // That corpus is ASCII-only: the MinHash oracle folds FNV-1a over
  // code points where the engine hashes UTF-8 bytes, so the two agree
  // only on ASCII text (the full corpus keeps its CJK documents)
  val SmallDocs = 200
  val SmallVectors = 150
  val Dim = 64
  val Clusters = 40
  val NearDupShare = 0.08
  val ExactDupShare = 0.04
  // nominal duration of one pass; a run of 30 s times two passes, the
  // first cold, so that each metric has two samples of every stage
  val PassSeconds = 15.0

  /** Chain order, with the oracle entry that checks each stage. */
  val Stages: Seq[(String, String, (SparkSession, String) => DataFrame)] = Seq(
    ("textGopherFilter", "text_gopher_filter", TextOps.textGopherFilter),
    ("dedupExact", "dedup_exact", Dedup.dedupExact),
    ("dedupMinhashLsh", "dedup_minhash_lsh", Dedup.dedupMinhashLsh),
    ("dedupClusters", "dedup_clusters", Dedup.dedupClusters),
    ("textSearchBm25", "text_search_bm25", TextOps.textSearchBm25),
    ("simIvf", "sim_ivf", Similarity.simIvf),
    ("simPq", "sim_pq", Similarity.simPq),
    ("pipeEndToEnd", "pipe_e2e", Pipeline.pipeEndToEnd))

  // stages that answer queries (reads); the others derive a dataset
  // from the corpus (writes)
  private val queryStages = Set("textSearchBm25", "simIvf", "simPq")

  private val layer = Map(
    "textGopherFilter" -> "TextOps", "dedupExact" -> "Dedup",
    "dedupMinhashLsh" -> "Dedup", "dedupClusters" -> "Dedup",
    "textSearchBm25" -> "TextOps", "simIvf" -> "Similarity",
    "simPq" -> "Similarity", "pipeEndToEnd" -> "Pipeline")

  private val stopwords = Seq("the", "be", "to", "of", "and", "that", "have", "with")
  private val langs = Seq("en" -> 0.55, "fr" -> 0.12, "de" -> 0.12, "es" -> 0.11, "zh" -> 0.10)
  private val foreignStops = Map(
    "fr" -> Seq("le", "les", "et", "est", "une"), "de" -> Seq("der", "die", "und", "ist"),
    "es" -> Seq("el", "la", "y", "es", "los"), "zh" -> Seq("的", "是", "了"))

  private def word(rnd: java.util.SplittableRandom, syll: Seq[String]): String =
    (0 until 1 + rnd.nextInt(3)).map(_ => syll(rnd.nextInt(syll.size))).mkString

  /** Writes documents.parquet and embeddings.parquet under `dir`;
    * returns the planted duplicate pairs (earlier id, later id).
    */
  def generate(spark: SparkSession, dir: Path, seed: Long, docs: Int,
      vectors: Int, ascii: Boolean): Seq[(Long, Long)] = {
    val rnd = new java.util.SplittableRandom(seed)
    val cons = Seq("b", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z")
    val vows = Seq("a", "e", "i", "o", "u")
    val syll = for (c <- cons; v <- vows) yield c + v
    val vocab: Map[String, IndexedSeq[String]] = langs.map { case (l, _) =>
      l -> (if (l == "zh" && !ascii) IndexedSeq.fill(3000)(
          new String(Array.fill(2)((0x4e00 + rnd.nextInt(2000)).toChar)))
        else IndexedSeq.fill(3000)(word(rnd, syll) + (if (l == "en") "" else l.take(1))))
    }.toMap
    val bm25 = Seq("dup", "merge", "vector")
    // log-uniform rank: a few very common words, a long tail
    def pick(v: IndexedSeq[String]): String =
      v(math.min(v.size - 1, math.exp(rnd.nextDouble() * math.log(v.size.toDouble)).toInt - 1))
    def lang(): String = {
      val x = rnd.nextDouble()
      langs.scanLeft(("", 0.0)) { case ((_, acc), (l, p)) => (l, acc + p) }.tail
        .find(_._2 > x).map(_._1).getOrElse("en")
    }
    val texts = mutable.ArrayBuffer[String]()
    val langOf = mutable.ArrayBuffer[String]()
    val planted = mutable.ArrayBuffer[(Long, Long)]()
    for (i <- 0 until docs) {
      val x = rnd.nextDouble()
      if (i >= 20 && x < ExactDupShare) {
        val j = rnd.nextInt(i)
        texts += texts(j); langOf += langOf(j); planted += ((j.toLong, i.toLong))
      } else if (i >= 20 && x < ExactDupShare + NearDupShare) {
        val j = rnd.nextInt(i)
        val ws = texts(j).split(" ")
        val v = vocab(langOf(j))
        val edited = ws.map(w => if (rnd.nextDouble() < 0.02) pick(v) else w) ++
          Seq.fill(rnd.nextInt(4))(pick(v))
        texts += edited.mkString(" "); langOf += langOf(j); planted += ((j.toLong, i.toLong))
      } else {
        val l = lang()
        val n = if (rnd.nextDouble() < 0.2) 10 + rnd.nextInt(36) else 50 + rnd.nextInt(40)
        val symbols = rnd.nextDouble() < 0.05
        val ws = (0 until n).map { _ =>
          val y = rnd.nextDouble()
          if (y < 0.09) {
            if (l == "en" || rnd.nextDouble() < 0.15) stopwords(rnd.nextInt(stopwords.size))
            else if (l == "zh" && ascii) "de"
            else foreignStops(l)(rnd.nextInt(foreignStops(l).size))
          } else if (y < 0.1) bm25(rnd.nextInt(bm25.size))
          else if (symbols && y < 0.3) "#" + pick(vocab(l))
          else pick(vocab(l))
        }
        texts += ws.mkString(" "); langOf += l
      }
    }
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val docRows = texts.indices.map(i =>
      Row(i.toLong, texts(i), langOf(i), s"src${i % 8}", texts(i).length.toLong))
    write(spark, docRows, docSchema, dir.resolve("documents.parquet"))

    val centers = Array.fill(Clusters, Dim)(rnd.nextDouble() * 2 - 1)
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType)))
    val embRows = (0 until vectors).map { i =>
      val c = rnd.nextInt(Clusters)
      val v = centers(c).map(x => (x + 0.35 * (rnd.nextDouble() * 2 - 1)).toFloat)
      Row(i.toLong, v.toSeq, c)
    }
    write(spark, embRows, embSchema, dir.resolve("embeddings.parquet"))
    planted.toSeq
  }

  private def write(spark: SparkSession, rows: Seq[Row], schema: StructType, p: Path): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .write.parquet(p.toString)

  private def copyInputs(from: Path, to: Path): Unit =
    Seq("documents.parquet", "embeddings.parquet").foreach { t =>
      Files.createDirectories(to.resolve(t))
      val s = Files.list(from.resolve(t))
      try s.forEach(f => Files.copy(f, to.resolve(t).resolve(f.getFileName)))
      finally s.close()
    }

  def run(run: Run, seconds: Double): Double = {
    val spark = run.spark
    val input = run.workDir.resolve("inputs")
    val planted = generate(spark, input, run.seed, Docs, Vectors, ascii = false)
    val smallInput = run.workDir.resolve("small")
    val inputBytes = Fs.bytes(input)
    run.info("input") = input.toString
    run.info("small_input") = smallInput.toString
    run.info("planted_pairs") = planted.map { case (a, b) => Seq(a, b) }
    run.info("oracle_sql") = Stages.map { case (_, q, _) => q -> SparkEntry.oracleSql(q) }.toMap
    val outputs = mutable.ArrayBuffer[Map[String, Any]]()
    var passes = 0
    var bytesWritten = 0L

    def pass(p: Int, timed: Boolean): Unit = {
      val dir = run.workDir.resolve(s"corpus-$p")
      copyInputs(if (timed) input else smallInput, dir)
      val shuffle0 = run.listener.shuffleWriteTotal
      val passStart = System.nanoTime()
      // layer spans of the timed passes only
      def span[T](name: String)(body: => T): T = if (timed) run.rec.span(name)(body) else body
      Stages.foreach { case (name, oracle, fn) =>
        if (name == "simIvf")
          run.op("ivfIndex", "maint")(span("IvfIndex.centroids")(
            IvfIndex.centroids(spark, dir.toString)))
        // one operation: the engine computes the stage and writes it
        val out = run.workDir.resolve(s"out-$p/$name")
        run.op(name, if (queryStages(name)) "read" else "write")(
          span(s"${layer(name)}.$name")(fn(spark, dir.toString).write.parquet(out.toString)))
        outputs += Map("pass" -> p, "stage" -> name, "oracle" -> oracle,
          "path" -> out.toString, "op" -> run.lastOp, "small" -> !timed)
      }
      val passSec = (System.nanoTime() - passStart) / 1e9
      if (timed) {
        run.rec.sample("Pipeline.docs_per_s", Docs / passSec)
        passes += 1
        org.apache.spark.PerfbenchShims.drainListenerBus(spark.sparkContext)
        bytesWritten += Fs.bytes(dir) - inputBytes + Fs.bytes(run.workDir.resolve(s"out-$p")) +
          (run.listener.shuffleWriteTotal - shuffle0)
      }
    }

    // compile the IVF build path before the timed passes: a pass holds
    // one index build, whose time is otherwise mostly JIT warm-up
    val ivfWarm = run.workDir.resolve("ivf-warm")
    copyInputs(input, ivfWarm)
    run.untimed(run.op("ivfIndex", "maint")(IvfIndex.centroids(spark, ivfWarm.toString)))
    var p = 1
    val loopSeconds = run.loop(seconds, 1, PassSeconds) { _ =>
      pass(p, timed = true)
      p += 1
    }
    // the oracle-checked pass over the small corpus, after the timed
    // window of a traced run (its DuckDB check takes longer than an
    // untraced run may)
    if (run.trace) {
      generate(spark, smallInput, run.seed + 1, SmallDocs, SmallVectors, ascii = true)
      run.untimed(pass(0, timed = false))
    }
    run.info("outputs") = outputs.toSeq
    run.info("user_bytes") = inputBytes * passes
    run.info("bytes_written") = bytesWritten
    if (run.trace) {
      val knn = run.ops.filter(o => (o.kind == "simIvf" || o.kind == "simPq") && o.cls != "untimed")
      knn.foreach(o => run.rec.sample("Similarity.knn_queries_per_s", 10 / ((o.endNs - o.startNs) / 1e9)))
      LayerCounters.heap(run.rec)
    }
    loopSeconds
  }
}

package perfbench

import graft.facade.MapReduceJob
import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.sources.VersionedTable
import graft.streaming.StreamingOps
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** One pass's operations: how many were attempted, the pass's wall time
  * (ann_search: its probes alone), the latencies of its queries (a batch
  * workload's one query is the whole pass), a check run after the pass's
  * clock has stopped that returns how many of the operations produced a
  * wrong answer, and, for a [[Composite]], each part's wall time. */
final case class PassRun(ops: Int, wallMs: Double, queryMs: Seq[Double],
    check: () => Int, partMs: Seq[(String, Double)] = Nil)

/** A benchmark workload. `generate` makes the inputs from the seed;
  * `prepare` loads the expected answers (outside any timing); `setupOnce`
  * is the program's own one-time work before it serves; `pass` is one
  * timed run of the workload through the engine's public entry points,
  * spanned by `tracer` when one is given. */
trait Workload {
  def name: String
  /** Input records one pass processes (the unit of `records_per_s`). */
  def recordsPerPass: Long
  def generate(spark: SparkSession, dir: Path, seed: Long): Manifest
  def prepare(spark: SparkSession, dir: Path, work: Path): Unit
  def setupOnce(spark: SparkSession, rep: Int): Unit = ()
  /** Untimed passes between set-up's warm-up pass and the timed ones. */
  def warmupPasses: Int = 1
  def pass(spark: SparkSession, tracer: Option[Tracer]): PassRun
  /** Whether the pass's queries are interactive requests (ann_search's
    * probes) rather than the pass itself. */
  def servesQueries: Boolean = false
  /** Quality of the answers so far, 1.0 when every answer is exact. */
  def recall: Double
  /** Layer metrics of the traced passes, per pass. */
  def layerMetrics(a: Attributed, passes: Int): Map[String, Double]

  protected def span[T](spark: SparkSession, t: Option[Tracer], name: String)(
      body: => T): T = t match {
    case Some(tr) => tr.span(spark.sparkContext, name)(body)
    case None => body
  }
  protected def timedMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
}

object Workload {
  val names: Seq[String] = Seq("batch", "serve",
    "mr_wordcount", "llm_dedup", "ann_search", "stream_ingest")
  def apply(name: String): Workload = name match {
    // batch passes keep getting faster for longer than serve's do, and
    // serve's set-up (index builds, inputs) leaves less of the run's time
    case "batch" => new Composite("batch", Seq(new MrWordcount, new LlmDedup),
      warmupPasses = 2)
    case "serve" => new Composite("serve",
      Seq(new AnnSearch(queriesPerPass = 12), new StreamIngest), warmupPasses = 0)
    case "mr_wordcount" => new MrWordcount
    case "llm_dedup" => new LlmDedup
    case "ann_search" => new AnnSearch
    case "stream_ingest" => new StreamIngest
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${names.mkString(", ")})")
  }
}

// ---------------------------------------------------------------------------

/** The paper's one job: word count through the MapReduce facade with the
  * reference partitioner and output layout. Seven shards draw Zipf text
  * from a large vocabulary; the first shard is a long tail of one-off tokens,
  * so its map task holds more distinct words than the combiner's bounded
  * map (1 << 20 entries) and flushes mid-task. The input is read with one
  * split per shard file, so the tail shard is one map task; the warm-up
  * pass asserts that some map task flushed. */
final class MrWordcount extends Workload {
  val name = "mr_wordcount"
  private val Shards = 8
  private val Reducers = 8
  private val ZipfTokensPerShard = 150000
  private val TailTokens = 1150000
  private val TailUniqueFrac = 0.99
  private val CombinerEntries = 1 << 20
  private val Vocabulary = 200000
  private val JobName = "wordcount"

  private var textDir: Path = _
  private var outDir: Path = _
  private var lines = 0L
  private var tokens = 0L
  /** Per reducer (1-based): (lines, sum of counts, sha-256 of the file). */
  private var expected: Map[Int, (Long, Long, String)] = Map.empty
  /** Distinct words checked, and those in a reducer file that matched. */
  private var checkedWords = 0L
  private var correctWords = 0L
  private var passes = 0
  /** Most shuffle records one map task wrote in the warm-up pass. A task
    * writes more than [[CombinerEntries]] records only if its combiner
    * flushed. */
  private val maxTaskRecords = new AtomicLong()
  private val recordsListener = new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) maxTaskRecords.accumulateAndGet(
        e.taskMetrics.shuffleWriteMetrics.recordsWritten, (a, b) => math.max(a, b))
  }

  def recordsPerPass: Long = lines

  /** The reference routing, written out independently of the facade:
    * ascii(first char) mod R, with 0 mapped to R. */
  private def reducerOf(w: String): Int = {
    val m = w.charAt(0).toInt % Reducers
    if (m == 0) Reducers else m
  }

  def generate(spark: SparkSession, dir: Path, seed: Long): Manifest = {
    val rng = new java.util.Random(seed)
    val vocab = new Inputs.Vocab(seed)
    val text = Files.createDirectories(dir.resolve("text"))
    val counts = new java.util.HashMap[String, Array[Long]](1 << 21)
    // the tail is always the first shard, so its map task starts in the
    // first wave whatever the seed and a seed never moves the stage time
    val tail = 0
    var nLines = 0L
    var nTokens = 0L
    for (shard <- 0 until Shards) {
      val shardWords = new java.util.HashSet[String]()
      val n = if (shard == tail) TailTokens else ZipfTokensPerShard
      val w = Files.newBufferedWriter(text.resolve(f"shard-$shard%02d.txt"), UTF_8)
      try {
        var left = n
        while (left > 0) {
          val len = math.min(left, 8 + rng.nextInt(13))
          var i = 0
          while (i < len) {
            val tok =
              if (shard == tail && rng.nextDouble() < TailUniqueFrac)
                Inputs.randomLetters(rng, 7)
              else vocab.word(Inputs.zipf(rng, Vocabulary))
            if (i > 0) w.write(' ')
            w.write(tok)
            val c = counts.get(tok)
            if (c == null) counts.put(tok, Array(1L)) else c(0) += 1
            if (shard == tail) shardWords.add(tok)
            i += 1
          }
          w.write('\n')
          left -= len
          nLines += 1
        }
      } finally w.close()
      nTokens += n
      if (shard == tail) require(shardWords.size > CombinerEntries,
        s"tail shard has ${shardWords.size} distinct words: too few to flush the combiner")
    }
    val byReducer = mutable.HashMap.empty[Int, mutable.ArrayBuffer[String]]
    counts.keySet().forEach(k =>
      byReducer.getOrElseUpdate(reducerOf(k), mutable.ArrayBuffer.empty) += k)
    val rows = (1 to Reducers).map { r =>
      val keys = byReducer.getOrElse(r, mutable.ArrayBuffer.empty).sorted
      val sb = new java.lang.StringBuilder()
      var sum = 0L
      keys.foreach { k =>
        val c = counts.get(k)(0)
        sum += c
        sb.append(k).append(' ').append(c).append('\n')
      }
      s"$r\t${keys.size}\t$sum\t${Inputs.sha256(sb.toString.getBytes(UTF_8))}"
    }
    Inputs.writeLines(dir.resolve("expected.tsv"),
      s"#\t$nLines\t$nTokens" +: rows)
    val files = Inputs.files(text)
    Manifest(name, seed, Inputs.bytesOf(files), nLines, counts.size, 0L,
      Inputs.checksum(text, files))
  }

  def prepare(spark: SparkSession, dir: Path, work: Path): Unit = {
    textDir = dir.resolve("text")
    outDir = work.resolve("mr_out")
    val rows = Inputs.readLines(dir.resolve("expected.tsv")).map(_.split('\t'))
    lines = rows.head(1).toLong
    tokens = rows.head(2).toLong
    expected = rows.tail.map(r =>
      r(0).toInt -> ((r(1).toLong, r(2).toLong, r(3)))).toMap
  }

  def pass(spark: SparkSession, tracer: Option[Tracer]): PassRun = {
    val sc = spark.sparkContext
    passes += 1
    val warmUp = passes == 1
    if (warmUp) sc.addSparkListener(recordsListener)
    val (_, ms) = timedMs {
      // one split per shard file (each is smaller than a block), as a
      // MapReduce job over small files runs one map task per file
      val input = sc.textFile(textDir.toString, 1)
      tracer match {
        case None =>
          MapReduceJob.writeReferenceLayout(
            MapReduceJob.wordCount(input, Reducers), outDir.toString, JobName)
        case Some(_) =>
          // Force the job first, then write the same RDD: its shuffle is
          // reused, so the second span is the reduce side plus the write.
          val counts = span(spark, tracer, "facade.wordcount") {
            val c = MapReduceJob.wordCount(input, Reducers)
            c.count()
            c
          }
          span(spark, tracer, "facade.write") {
            MapReduceJob.writeReferenceLayout(counts, outDir.toString, JobName)
          }
      }
    }
    PassRun(1, ms, Seq(ms), () =>
      math.min(1, check() + (if (warmUp) flushCheck(spark) else 0)))
  }

  /** The combiner's flush path must have run: some map task of the
    * warm-up pass wrote more than [[CombinerEntries]] shuffle records.
    * Waits for the listener bus to deliver the task ends. */
  private def flushCheck(spark: SparkSession): Int = {
    val deadline = System.nanoTime() + 10e9
    while (maxTaskRecords.get <= CombinerEntries && System.nanoTime() < deadline)
      Thread.sleep(20L)
    spark.sparkContext.removeSparkListener(recordsListener)
    if (maxTaskRecords.get > CombinerEntries) 0
    else {
      System.err.println(s"[perfbench] $name: no map task flushed its combiner " +
        s"(most records one task wrote: ${maxTaskRecords.get}, limit $CombinerEntries)")
      1
    }
  }

  private def outFile(r: Int): Path = outDir.resolve(s"$JobName-$r.out")

  private def outputBytes: Long = (1 to Reducers).map(r => Files.size(outFile(r))).sum

  /** Every reducer file must match the independent count exactly: same
    * words, counts and file assignment (the sha-256 of the sorted file),
    * and the counts must add up to the generated token count. */
  private def check(): Int = {
    var total = 0L
    var ok = true
    for (r <- 1 to Reducers) {
      checkedWords += expected(r)._1
      val bytes = Files.readAllBytes(outFile(r))
      val (eLines, eSum, eSha) = expected(r)
      var nLines = 0L
      var sum = 0L
      var i = 0
      while (i < bytes.length) {
        if (bytes(i) == '\n') {
          var j = i - 1
          var v = 0L
          var mul = 1L
          while (bytes(j) != ' ') { v += (bytes(j) - '0') * mul; mul *= 10; j -= 1 }
          sum += v
          nLines += 1
        }
        i += 1
      }
      total += sum
      if (nLines == eLines && sum == eSum && Inputs.sha256(bytes) == eSha)
        correctWords += eLines
      else {
        ok = false
        System.err.println(s"[perfbench] $name: reducer $r got $nLines lines " +
          s"summing to $sum, expected $eLines lines summing to $eSum")
      }
    }
    if (total != tokens) {
      ok = false
      System.err.println(s"[perfbench] $name: counts sum to $total, " +
        s"generated $tokens tokens")
    }
    if (ok) 0 else 1
  }

  def recall: Double = if (checkedWords == 0) 0.0 else correctWords.toDouble / checkedWords

  def layerMetrics(a: Attributed, passes: Int): Map[String, Double] = {
    val count = a.under("facade.wordcount")
    val write = a.under("facade.write")
    val countTasks = a.tasksIn(count)
    val reduce = countTasks.filter(t => t.shuffleReadRecords > 0 || t.fetchWaitS > 0)
    val mapSide = countTasks.filterNot(reduce.contains)
    val sortReduce = reduce.map(_.runS).sum
    val skews = reduce.groupBy(_.stageId).values.map { ts =>
      val recs = ts.map(_.shuffleReadRecords.toDouble)
      val mean = recs.sum / (Reducers.toDouble)
      if (mean == 0) 0.0 else recs.max / mean
    }
    val writeBusy = a.tasksIn(write).map(_.runS).sum
    val p = passes.toDouble
    Map(
      "facade.map_combine.busy_s" -> mapSide.map(_.runS).sum / p,
      "facade.combine.out_ratio" ->
        mapSide.map(_.shuffleWriteRecords).sum.toDouble / (tokens * p),
      "facade.shuffle.fetch_wait_s" -> reduce.map(_.fetchWaitS).sum / p,
      "facade.sort_reduce.busy_s" -> sortReduce / p,
      "facade.reducer.skew" -> (if (skews.isEmpty) 0.0 else skews.sum / skews.size),
      "facade.write.busy_s" -> math.max(0.0, writeBusy - sortReduce) / p,
      "facade.write.bytes" -> (if (passes > 0) outputBytes.toDouble else 0.0))
  }
}

// ---------------------------------------------------------------------------

/** The canonical LLM-data step: quality verdicts, then MinHash/LSH
  * near-duplicate removal. The seed plants clusters of near-duplicates
  * (a source document plus copies with one word in ~50 substituted) and
  * a fraction of low-quality documents that the verdict must drop. */
final class LlmDedup extends Workload {
  val name = "llm_dedup"
  private val Docs = 8000
  private val DupFrac = 0.10
  private val LowQualityFrac = 0.10
  private val Vocabulary = 20000

  private var docsPath: String = _
  private var expectedSurvivors: Array[Long] = Array.empty
  private var plantedDups: Set[Long] = Set.empty
  private var removedSeen = 0L
  private var plantedSeen = 0L
  private var lastKeepRatio = 0.0
  private var lastCandidates = 0L
  private var lastVerified = 0L

  def recordsPerPass: Long = Docs

  private val schema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  def generate(spark: SparkSession, dir: Path, seed: Long): Manifest = {
    val rng = new java.util.Random(seed)
    val vocab = new Inputs.Vocab(seed)
    def goodTokens(n: Int): Array[String] = {
      val t = Array.fill(n) {
        val u = rng.nextDouble()
        if (u < 0.06) "the" else if (u < 0.10) "a"
        else vocab.word(Inputs.zipf(rng, Vocabulary))
      }
      t(rng.nextInt(n)) = "the" // every good document has a stopword
      t
    }
    val nLow = (Docs * LowQualityFrac).toInt
    val nDup = (Docs * DupFrac).toInt
    val nGood = Docs - nLow - nDup
    // good documents; the first ones are the sources of the clusters
    val good = Array.fill(nGood)(goodTokens(50 + rng.nextInt(71)))
    val dupOf = mutable.ArrayBuffer.empty[Int]
    var src = 0
    while (dupOf.size < nDup) {
      val copies = 1 + rng.nextInt(3)
      for (_ <- 0 until copies if dupOf.size < nDup) dupOf += src
      src += 1
    }
    val dups = dupOf.map { s =>
      val t = good(s).clone()
      var subs = math.max(1, t.length / 50)
      while (subs > 0) {
        val i = rng.nextInt(t.length)
        if (t(i) != "the" && t(i) != "a") {
          t(i) = vocab.word(Vocabulary + 1 + rng.nextInt(Vocabulary))
          subs -= 1
        }
      }
      t
    }
    // low quality: too short, overlong words, or no stopwords
    val low = Array.tabulate(nLow) { i =>
      i % 3 match {
        case 0 => goodTokens(5 + rng.nextInt(15))
        case 1 => Array.tabulate(60 + rng.nextInt(40))(j =>
          if (j % 20 == 0) "the" else Inputs.randomLetters(rng, 12 + rng.nextInt(5)))
        case _ => Array.fill(60 + rng.nextInt(40))(
          vocab.word(Inputs.zipf(rng, Vocabulary)))
      }
    }
    val ids = {
      val a = Array.tabulate(Docs)(_.toLong)
      for (i <- a.indices.reverse) {
        val j = rng.nextInt(i + 1); val x = a(i); a(i) = a(j); a(j) = x
      }
      a
    }
    val texts = (good ++ dups ++ low).map(_.mkString(" "))
    val sources = Array("web", "books", "news", "code")
    val rows = texts.indices.map { i =>
      Row(ids(i), texts(i), "en", sources(rng.nextInt(sources.length)),
        texts(i).length.toLong)
    }
    // expected survivors: good documents, minus every cluster member but
    // the one with the smallest doc_id
    val clusterIds = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
    dupOf.zipWithIndex.foreach { case (s, j) =>
      clusterIds.getOrElseUpdate(s, mutable.ArrayBuffer(ids(s))) += ids(nGood + j) }
    val dropped = clusterIds.values.flatMap(c => c.sorted.tail).toSet
    val survivors = (0 until nGood + nDup).map(ids(_)).filterNot(dropped).sorted
    Inputs.writeParquet(spark, rows, schema, dir.resolve("documents.parquet"), 4)
    Inputs.writeLines(dir.resolve("survivors.txt"), survivors.map(_.toString))
    Inputs.writeLines(dir.resolve("planted_dups.txt"), dropped.toSeq.sorted.map(_.toString))
    val files = Inputs.files(dir.resolve("documents.parquet"), _.toString.endsWith(".parquet"))
    Manifest(name, seed, Inputs.bytesOf(files), Docs,
      texts.distinct.length.toLong, dropped.size.toLong,
      Inputs.checksum(dir, files))
  }

  def prepare(spark: SparkSession, dir: Path, work: Path): Unit = {
    docsPath = dir.resolve("documents.parquet").toString
    expectedSurvivors = Inputs.readLines(dir.resolve("survivors.txt")).map(_.toLong).toArray
    plantedDups = Inputs.readLines(dir.resolve("planted_dups.txt")).map(_.toLong).toSet
  }

  def pass(spark: SparkSession, tracer: Option[Tracer]): PassRun = {
    val docs = spark.read.parquet(docsPath)
    val (survivors, ms) = timedMs {
      tracer match {
        case None =>
          val keep = TextAnalysis.filterVerdicts(docs)
            .filter(col("keep") === 1L).select("doc_id")
          Dedup.dedupCorpus(docs.join(keep, "doc_id"))
            .select("doc_id").collect().map(_.getLong(0))
        case Some(_) => tracedPass(spark, tracer, docs)
      }
    }
    PassRun(1, ms, Seq(ms), () => check(survivors))
  }

  /** [[Dedup.dedupCorpus]] taken apart into its public steps, each
    * materialized inside its own span. */
  private def tracedPass(spark: SparkSession, tracer: Option[Tracer],
      docs: DataFrame): Array[Long] = {
    val keep = span(spark, tracer, "text.verdict") {
      val v = TextAnalysis.filterVerdicts(docs).filter(col("keep") === 1L)
        .select("doc_id").localCheckpoint()
      lastKeepRatio = v.count().toDouble / Docs
      v
    }
    val kept = docs.join(keep, "doc_id")
    val pairs = span(spark, tracer, "dedup.lsh") {
      val p = Dedup.minhashLshPairs(kept).localCheckpoint()
      lastVerified = p.count()
      p
    }
    // candidate pairs before verification: the LSH bucket self-join
    // recomputed from the public band signatures, in a benchmark-only
    // span apart from the dedup layer's time and the tracing overhead
    lastCandidates = span(spark, tracer, "bench.lsh_candidates") {
      val b = Dedup.minhashBands(kept)
      b.select(col("doc_id").as("doc_a"), col("band"), col("sig"))
        .join(b.select(col("doc_id").as("doc_b"), col("band"), col("sig")),
          Seq("band", "sig"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct().count()
    }
    val clusters = span(spark, tracer, "dedup.cc") {
      Dedup.connectedComponents(pairs).localCheckpoint()
    }
    span(spark, tracer, "dedup.filter") {
      kept.join(clusters.filter(col("doc_id") =!= col("canonical_doc_id"))
          .select("doc_id"), Seq("doc_id"), "left_anti")
        .select("doc_id").collect().map(_.getLong(0))
    }
  }

  /** Survivors must be exactly the expected set: planted duplicates
    * gone, the min-id member of every cluster kept, no distinct document
    * lost. */
  private def check(survivors: Array[Long]): Int = {
    val got = survivors.sorted
    val gotSet = got.toSet
    plantedSeen += plantedDups.size
    removedSeen += plantedDups.count(d => !gotSet(d))
    if (java.util.Arrays.equals(got, expectedSurvivors)) 0
    else {
      val exp = expectedSurvivors.toSet
      System.err.println(s"[perfbench] $name: ${got.length} survivors, " +
        s"expected ${expectedSurvivors.length}; " +
        s"${exp.count(d => !gotSet(d))} missing, ${got.count(d => !exp(d))} unexpected")
      1
    }
  }

  def recall: Double = if (plantedSeen == 0) 0.0 else removedSeen.toDouble / plantedSeen

  def layerMetrics(a: Attributed, passes: Int): Map[String, Double] = {
    val p = passes.toDouble
    Map(
      "text.verdict.busy_s" -> a.wall("text.verdict") / p,
      "text.verdict.keep_ratio" -> lastKeepRatio,
      "dedup.lsh.busy_s" -> a.wall("dedup.lsh") / p,
      "dedup.lsh.candidate_pairs" -> lastCandidates.toDouble,
      "dedup.lsh.verified_pairs" -> lastVerified.toDouble,
      "dedup.lsh.verify_yield" ->
        (if (lastCandidates == 0) 0.0 else lastVerified.toDouble / lastCandidates),
      "dedup.cc.busy_s" -> a.wall("dedup.cc") / p,
      "dedup.cc.jobs" -> a.jobsIn(a.under("dedup.cc")) / p,
      "dedup.filter.busy_s" -> a.wall("dedup.filter") / p)
  }
}

// ---------------------------------------------------------------------------

/** An interactive read path: a closed loop with one client probing a
  * materialized IVF index; each probe is collected before the next is
  * sent. Seeded clustered embeddings; recall@10 against exact kNN. A run
  * sends each query id once (up to [[Queries]] probes), as new queries
  * arrive in use: a repeated probe would reuse Spark's generated code
  * for its plan and measure a cache a new query never hits. */
final class AnnSearch(queriesPerPass: Int = 6) extends Workload {
  val name = "ann_search"
  private val Vectors = 12000
  private val Dim = 64
  private val Clusters = 48
  private val Queries = 120
  private val K = 10
  private val Centroids = 32
  private val Nprobe = 4

  private var dir: Path = _
  private var work: Path = _
  private var queries: IndexedSeq[(Long, Array[Double])] = IndexedSeq.empty
  private var exact: Map[Long, Set[Long]] = Map.empty
  private var indexPath: String = _
  private var centroids: Array[Array[Double]] = Array.empty
  private var next = 0
  private var hits = 0L
  private var asked = 0L
  private val buildSeconds = mutable.ArrayBuffer.empty[Double]

  def recordsPerPass: Long = queriesPerPass
  override def servesQueries: Boolean = true

  def generate(spark: SparkSession, d: Path, seed: Long): Manifest = {
    val rng = new java.util.Random(seed)
    val centers = Array.fill(Clusters)(Array.fill(Dim)(rng.nextGaussian()))
    val rows = (0 until Vectors).map { i =>
      val c = rng.nextInt(Clusters)
      val v = Array.tabulate(Dim)(j =>
        (centers(c)(j) + 0.6 * rng.nextGaussian()).toFloat)
      Row(i.toLong, scala.collection.immutable.ArraySeq.unsafeWrapArray(v), c)
    }
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType)))
    Inputs.writeParquet(spark, rows, schema, d.resolve("embeddings.parquet"), 4)
    val qids = rng.ints(0, Vectors).distinct().limit(Queries).toArray.map(_.toLong)
    Inputs.writeLines(d.resolve("queries.txt"), qids.map(_.toString))
    val files = Inputs.files(d.resolve("embeddings.parquet"), _.toString.endsWith(".parquet"))
    Manifest(name, seed, Inputs.bytesOf(files), Vectors, Clusters, 0L,
      Inputs.checksum(d, files))
  }

  /** Query vectors and the exact top-k ground truth, from
    * [[Similarity.batchTopK]] over the whole corpus. Computed on every
    * run, like every workload's expected answers, so the JVM is equally
    * warm when set-up starts whether or not the inputs were cached. */
  def prepare(spark: SparkSession, d: Path, w: Path): Unit = {
    dir = d
    work = w
    val qids = Inputs.readLines(d.resolve("queries.txt")).map(_.toLong)
    val e = spark.read.parquet(d.resolve("embeddings.parquet").toString)
    val vecs = e.filter(col("vec_id").isInCollection(qids))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    queries = qids.map(q => q -> vecs(q)).toIndexedSeq
    exact = Similarity.batchTopK(spark, d.toString, qids, K).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
  }

  /** The index build: centroids from a sample, then the corpus written
    * partitioned by centroid. */
  override def setupOnce(spark: SparkSession, rep: Int): Unit = {
    val t0 = System.nanoTime()
    val e = spark.read.parquet(dir.resolve("embeddings.parquet").toString)
    centroids = Similarity.fitCentroids(e, Centroids)
    indexPath = work.resolve(s"ivf-$rep").toString
    Similarity.writeIvfIndex(e, centroids, indexPath)
    buildSeconds += (System.nanoTime() - t0) / 1e9
  }

  def pass(spark: SparkSession, tracer: Option[Tracer]): PassRun = {
    val answers = mutable.ArrayBuffer.empty[(Long, Array[Long])]
    val lat = (0 until queriesPerPass).map { _ =>
      val (qid, qvec) = queries(next % queries.size)
      next += 1
      val (ids, ms) = timedMs {
        span(spark, tracer, "sim.probe") {
          Similarity.probeIvfIndex(spark, indexPath, centroids, qvec, qid, K, Nprobe)
            .collect().map(_.getLong(0))
        }
      }
      answers += qid -> ids
      ms
    }
    PassRun(queriesPerPass, lat.sum, lat, () => check(answers.toSeq))
  }

  /** A probe fails when it returns other than k distinct neighbours or
    * returns the query itself; recall@k is measured against the exact
    * ground truth. */
  private def check(answers: Seq[(Long, Array[Long])]): Int =
    answers.count { case (qid, ids) =>
      hits += ids.count(exact(qid))
      asked += K
      ids.length != K || ids.distinct.length != K || ids.contains(qid)
    }

  def recall: Double = if (asked == 0) 0.0 else hits.toDouble / asked

  def layerMetrics(a: Attributed, passes: Int): Map[String, Double] = {
    val probes = a.spans.count(_.name == "sim.probe").max(1).toDouble
    val ts = a.tasksIn(a.under("sim.probe"))
    val rows = ts.map(_.inputRecords).sum / probes
    Map(
      "sim.index.build_s" -> Stats.median(buildSeconds.toSeq),
      "sim.probe.rows_scored" -> rows,
      "sim.probe.bytes_read" -> ts.map(_.inputBytes).sum / probes,
      "sim.probe.jobs" -> a.jobsIn(a.under("sim.probe")) / probes,
      "sim.probe.useful_ratio" -> (if (rows == 0) 0.0 else K / rows))
  }
}

// ---------------------------------------------------------------------------

/** A write path with state: event files replayed from a landing
  * directory one file per micro-batch into (a) session counts written to
  * a parquet sink and (b) a copy-on-write upsert into a versioned table
  * holding each user's latest event, which is then read back. */
final class StreamIngest extends Workload {
  val name = "stream_ingest"
  private val Users = 3000
  private val Sessions = 5000
  private val Gap = "10 minutes"

  private var landing: Path = _
  private var basePath: String = _
  private var work: Path = _
  private var tablePath: String = _
  private var events = 0L
  private var landingBytes = 0L
  private var expectedSessions: Set[(Long, Long, Long, Double)] = Set.empty
  private var expectedTable: Set[(Long, Long, Long, String, Double)] = Set.empty
  private var passNo = 0
  private var checked = 0L
  private var correct = 0L
  private var lastVersions = 0L

  def recordsPerPass: Long = events

  private val T0 = java.time.LocalDateTime.of(2026, 1, 5, 0, 0)

  /** Two landing files, one micro-batch each, the second with a later
    * modification time so the file source replays them in order: the
    * events in event-time order ending with a sentinel event (user -1)
    * far in the future, then a trailer at the same instant. The trailer's
    * batch runs under the advanced watermark, so every real session is
    * final by the last data batch. The upsert stream reads only the
    * events file. */
  def generate(spark: SparkSession, d: Path, seed: Long): Manifest = {
    val rng = new java.util.Random(seed)
    val types = Array("view", "click", "purchase")
    val evs = mutable.ArrayBuffer.empty[(Long, Long, String, Double)] // (micros, user, type, value)
    for (_ <- 0 until Sessions) {
      val user = rng.nextInt(Users).toLong
      var t = (rng.nextDouble() * 48 * 3600e6).toLong
      for (_ <- 0 until 1 + rng.nextInt(8)) {
        evs += ((t, user, types(rng.nextInt(3)), rng.nextInt(400) / 4.0))
        t += 30000000L + (rng.nextDouble() * 240e6).toLong
      }
    }
    val sorted = evs.sortBy(e => (e._1, e._2)).toArray
    for (i <- 1 until sorted.length if sorted(i)._1 <= sorted(i - 1)._1)
      sorted(i) = sorted(i).copy(_1 = sorted(i - 1)._1 + 1)
    def ts(micros: Long) = T0.plusNanos(micros * 1000L)
    val all = sorted.zipWithIndex.map { case ((t, u, ty, v), i) =>
      Row(i.toLong, ts(t), u, ty, v, s"""{"n":${i % 7}}""") }
    val last = sorted.last._1
    val far = ts(last + 30L * 86400L * 1000000L)
    val sentinel = Row(-1L, far, -1L, "sentinel", 0.0, null)
    val trailer = Row(-2L, far, -2L, "sentinel", 0.0, null)
    val chunks = Seq("events-000.parquet" -> (all :+ sentinel),
      "watermark-000.parquet" -> Array(trailer))
    // one write job, one partition (so one part file) per landing file
    val stage = d.resolve("stage")
    spark.createDataFrame(spark.sparkContext.parallelize(chunks.map(_._2.toSeq), chunks.size)
      .flatMap(identity), StreamingOps.eventsFileSchemaMicros)
      .write.parquet(stage.toString)
    val land = Files.createDirectories(d.resolve("landing"))
    val parts = Inputs.files(stage, _.toString.endsWith(".parquet"))
    require(parts.size == chunks.size, s"expected ${chunks.size} part files")
    parts.zip(chunks).zipWithIndex.foreach { case ((part, (file, _)), i) =>
      val f = land.resolve(file)
      Files.move(part, f)
      Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime.fromMillis(
        1767225600000L + i * 1000L))
    }
    Inputs.deleteTree(stage)
    // the table's initial version: one row per user, older than any event
    val base = (0 until Users).map(u =>
      Row(-10L - u, T0.minusDays(1), u.toLong, "init", 0.0, null))
    spark.createDataFrame(spark.sparkContext.parallelize(base, 1),
      StreamingOps.eventsFileSchemaMicros).write.parquet(d.resolve("base.parquet").toString)
    val files = Inputs.files(land)
    Manifest(name, seed, Inputs.bytesOf(files), sorted.length.toLong,
      sorted.map(_._2).distinct.length.toLong, 0L, Inputs.checksum(d, files))
  }

  /** The real events, in batch. */
  private def readEvents(spark: SparkSession): DataFrame =
    spark.read.schema(StreamingOps.eventsFileSchemaMicros)
      .option("pathGlobFilter", "events-*").parquet(landing.toString)
      .withColumn("ts", col("ts").cast("timestamp"))

  private def sessionKey(r: Row) =
    (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2), r.getDouble(3))
  private def tableKey(r: Row) =
    (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
      r.getAs[java.sql.Timestamp]("ts").getTime * 1000L +
        r.getAs[java.sql.Timestamp]("ts").getNanos / 1000L % 1000L,
      r.getAs[String]("event_type"), r.getAs[Double]("value"))

  /** Expected answers in batch: the session counts from the batch form
    * of [[StreamingOps.sessionCountsCore]], and the table as
    * last-writer-wins per user over the initial rows and every event. */
  def prepare(spark: SparkSession, d: Path, w: Path): Unit = {
    landing = d.resolve("landing")
    basePath = d.resolve("base.parquet").toString
    work = w
    landingBytes = Inputs.bytesOf(Inputs.files(landing, _.toString.startsWith("events-")))
    val ev = readEvents(spark)
    val real = ev.filter(col("user_id") >= 0)
    events = real.count()
    expectedSessions = StreamingOps.sessionCountsCore(real, Gap)
      .collect().map(sessionKey).toSet
    ev.union(spark.read.parquet(basePath).withColumn("ts", col("ts").cast("timestamp")))
      .createOrReplaceTempView("perfbench_all_events")
    expectedTable = spark.sql(
      """SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |ORDER BY ts DESC) AS rn FROM perfbench_all_events) WHERE rn = 1""".stripMargin)
      .collect().map(tableKey).toSet
  }

  /** The table's initial version. */
  override def setupOnce(spark: SparkSession, rep: Int): Unit = {
    tablePath = work.resolve(s"table-$rep").toString
    Inputs.deleteTree(work.resolve(s"table-$rep"))
    VersionedTable.init(spark, tablePath,
      spark.read.parquet(basePath).withColumn("ts", col("ts").cast("timestamp")))
  }

  private def stream(spark: SparkSession, files: String): DataFrame =
    spark.readStream.schema(StreamingOps.eventsFileSchemaMicros)
      .option("maxFilesPerTrigger", 1)
      .option("pathGlobFilter", files)
      .parquet(landing.toString)
      .withColumn("ts", col("ts").cast("timestamp"))

  def pass(spark: SparkSession, tracer: Option[Tracer]): PassRun = {
    passNo += 1
    val dir = work.resolve(s"pass-$passNo")
    val sessionsOut = dir.resolve("sessions").toString
    val v0 = VersionedTable.currentVersion(spark, tablePath).get
    val (table, ms) = timedMs {
      span(spark, tracer, "stream.sessions") {
        StreamingOps.runToParquetSink(
          StreamingOps.sessionCountsCore(
            stream(spark, "*.parquet").withWatermark("ts", "2 hours"), Gap),
          sessionsOut, dir.resolve("ckpt-sessions").toString)
      }
      span(spark, tracer, "stream.upsert_sink") {
        StreamingOps.runUpsertSink(stream(spark, "events-*"), tablePath, "user_id", "ts",
          dir.resolve("ckpt-upsert").toString)
      }
      span(spark, tracer, "sources.read") {
        VersionedTable.read(spark, tablePath).collect()
      }
    }
    lastVersions = VersionedTable.currentVersion(spark, tablePath).get - v0
    PassRun(3, ms, Seq(ms), () => check(spark, sessionsOut, table, dir))
  }

  private def check(spark: SparkSession, sessionsOut: String, table: Array[Row],
      dir: Path): Int = {
    val sessions = spark.read.parquet(sessionsOut).filter(col("user_id") >= 0)
      .collect().map(sessionKey).toSet
    val got = table.map(tableKey).toSet
    val badSessions = sessions != expectedSessions
    val badTable = table.length != expectedTable.size || got != expectedTable
    checked += expectedSessions.size + expectedTable.size
    correct += expectedSessions.count(sessions) + expectedTable.count(got)
    if (badSessions) System.err.println(s"[perfbench] $name: ${sessions.size} " +
      s"sessions, expected ${expectedSessions.size}")
    if (badTable) System.err.println(s"[perfbench] $name: table has " +
      s"${table.length} rows, ${expectedTable.count(got)} of " +
      s"${expectedTable.size} expected")
    Inputs.deleteTree(dir)
    (if (badSessions) 1 else 0) + (if (badTable) 1 else 0)
  }

  def recall: Double = if (checked == 0) 0.0 else correct.toDouble / checked

  def layerMetrics(a: Attributed, passes: Int): Map[String, Double] = {
    val p = passes.toDouble
    val bs = a.batchesIn(a.under("stream.sessions") ++ a.under("stream.upsert_sink"))
    val sessionBatches = a.batchesIn(a.under("stream.sessions"))
    val written = a.tasksIn(a.under("stream.upsert_sink")).map(_.outputBytes).sum
    Map(
      "stream.batches" -> bs.size / p,
      "stream.batch_ms.p50" -> Stats.percentile(bs.map(_.triggerMs.toDouble), 50),
      "stream.batch_ms.p95" -> Stats.percentile(bs.map(_.triggerMs.toDouble), 95),
      "stream.state_rows" ->
        (if (sessionBatches.isEmpty) 0.0 else sessionBatches.map(_.stateRows).max.toDouble),
      "stream.state_bytes" ->
        (if (sessionBatches.isEmpty) 0.0 else sessionBatches.map(_.stateBytes).max.toDouble),
      "stream.state_commit_ms" -> bs.map(_.commitMs).sum / p,
      "sources.upsert.versions" -> lastVersions.toDouble,
      "sources.upsert.write_amp" -> written.toDouble / (landingBytes * p),
      "sources.read.busy_s" -> a.wall("sources.read") / p)
  }
}

// ---------------------------------------------------------------------------

/** Workloads run back to back as one: each pass runs every part's pass in
  * turn, so the parts share one JVM, one session and one timed window.
  * The parts' inputs live in subdirectories of the composite's, named
  * after the part. A pass's queries are those of the parts that serve
  * queries; with none, the whole pass is the one query. Recall is the
  * lowest of the parts'. */
final class Composite(val name: String, parts: Seq[Workload],
    override val warmupPasses: Int) extends Workload {
  def recordsPerPass: Long = parts.map(_.recordsPerPass).sum
  override def servesQueries: Boolean = parts.exists(_.servesQueries)

  def generate(spark: SparkSession, dir: Path, seed: Long): Manifest = {
    val ms = parts.map(p => p.generate(spark, Files.createDirectories(dir.resolve(p.name)), seed))
    Manifest(name, seed, ms.map(_.bytes).sum, ms.map(_.records).sum,
      ms.map(_.distinctKeys).sum, ms.map(_.plantedDuplicates).sum,
      Inputs.sha256(ms.map(_.checksum).mkString(",").getBytes(UTF_8)))
  }

  def prepare(spark: SparkSession, dir: Path, work: Path): Unit =
    parts.foreach(p => p.prepare(spark, dir.resolve(p.name), work))

  override def setupOnce(spark: SparkSession, rep: Int): Unit =
    parts.foreach(_.setupOnce(spark, rep))

  def pass(spark: SparkSession, tracer: Option[Tracer]): PassRun = {
    val runs = parts.map(_.pass(spark, tracer))
    val wallMs = runs.map(_.wallMs).sum
    val queries = parts.zip(runs).filter(_._1.servesQueries).flatMap(_._2.queryMs)
    PassRun(runs.map(_.ops).sum, wallMs, if (servesQueries) queries else Seq(wallMs),
      () => runs.map(_.check()).sum, parts.map(_.name).zip(runs.map(_.wallMs)))
  }

  def recall: Double = parts.map(_.recall).min

  def layerMetrics(a: Attributed, passes: Int): Map[String, Double] =
    parts.flatMap(_.layerMetrics(a, passes)).toMap
}

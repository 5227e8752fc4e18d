package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.operators.VectorSearch
import graft.sources.Corpus

/** `serve`: one closed-loop client issues a seeded request mix (dense
  * top-k, a share of it metadata-filtered; BM25; RRF hybrid; IVF ANN)
  * against an in-memory-sized corpus persisted as parquet, with a
  * persisted IVF index beside it. Queries repeat with Zipf popularity.
  */
final class Serve(h: Harness, gen: Gen) extends Workload {
  import Serve._

  private val corpus = gen.chunks(N)
  private val pool = gen.queryPool(corpus, PoolSize)
  private val reqs = gen.stream(pool, StreamLen)
  private lazy val ref = new Reference(corpus.map(d => (d.id, d.text, d.vec)).toSeq,
    corpus.map(d => d.id -> d.label).toMap, corpus.map(d => d.id -> d.year).toMap)

  def digest: String =
    new Gen.Digest().docs(corpus).queries(pool).ints(reqs).hex

  private var table: DataFrame = _
  private var ivf: DataFrame = _
  private var cents: DataFrame = _
  private var centArrays: Seq[(Int, Array[Double])] = Nil

  /** Session start, corpus load (write + reopen the parquet table) and
    * IVF build (Lloyd codebook, cell assignment, partitioned index).
    */
  def setup(): Unit = {
    val spark = h.newSession()
    h.deleteTree(h.path("corpus")); h.deleteTree(h.path("ivf"))
    val rows = spark.sparkContext.parallelize(corpus.map(Search.row).toSeq, h.a.cores)
    h.tracer.span("Corpus.writePartitioned") {
      Corpus.writePartitioned(spark.createDataFrame(rows, Search.TableSchema)
        .repartition(col("label")), h.path("corpus"), Seq("label"))
    }
    table = spark.read.parquet(h.path("corpus"))
    val cb = h.tracer.span("VectorSearch.lloydCentroids") {
      VectorSearch.lloydCentroids(table.where(col("id") % SampleEvery === 0), "id", "vec",
        Cells, LloydIters).collect()
    }
    centArrays = cb.toSeq.map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
    cents = spark.createDataFrame(java.util.Arrays.asList(cb: _*), CentSchema)
    h.tracer.span("VectorSearch.assignCells") {
      Corpus.writePartitioned(
        VectorSearch.assignCells(table, cents, "id", "vec", "cell").repartition(col("cell")),
        h.path("ivf"), Seq("cell"))
    }
    ivf = spark.read.parquet(h.path("ivf"))
    h.clearCaches()
  }

  def afterSetup(): Unit = {
    h.bytesWritten = 0L
    h.wrote(h.path("corpus")); h.wrote(h.path("ivf"))
    userBytes = corpus.map(Search.userBytes).sum
    cellRows = ivf.groupBy("cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    h.clearCaches()
    ref.size: Unit
  }

  private var userBytes = 0L
  private var cellRows = Map.empty[Int, Long]
  private var next = 0
  private val seen = mutable.HashSet.empty[Int]
  private var repeats = 0
  private var served = 0

  /** One pass of the request schedule: Gen.Schedule.length requests
    * from the stream, so every step carries the stated mix exactly.
    */
  def step(): (Double, Long) = {
    val t0 = System.nanoTime()
    Gen.Schedule.indices.foreach(_ => request())
    (Gen.Schedule.length.toDouble, System.nanoTime() - t0)
  }

  private def request(): Unit = {
    h.tracer.req = next
    val pid = reqs(next % reqs.length); next += 1
    if (h.tracer.phase == "run") { served += 1; if (!seen.add(pid)) repeats += 1 }
    else seen += pid
    val q = pool(pid)
    val s = new Search(h, table, Some(ivf), cents, () => ref)
    q.kind match {
      case "dense" | "dense_filtered" => s.dense(q.vec, q.filter)
      case "bm25" => s.bm25(q.terms)
      case "hybrid" => s.hybrid(q.vec, q.terms)
      case _ =>
        if (h.a.trace && h.tracer.phase == "run")
          h.ratio("VectorSearch.annIvfProbe.scanned_fraction",
            Search.scannedFraction(q.vec, centArrays, cellRows, NProbe, N))
        s.ann(q.vec, NProbe)
    }
  }

  def warmup(): Unit = (1 to WarmupSteps).foreach(_ => step())
  def minSteps: Int = MinSteps
  def setups: Int = 3

  def finish(): Unit = {
    h.info("corpus_rows") = N
    h.info("query_pool") = PoolSize
    h.info("requests") = served
    h.info("repeat_share") = if (served == 0) 0.0 else repeats.toDouble / served
    h.info("ivf_cells") = centArrays.size
    h.info("nprobe") = NProbe
  }

  def writeAmp: Double = h.bytesWritten.toDouble / userBytes
  def spaceAmp: Double =
    (h.diskBytes(h.path("corpus")) + h.diskBytes(h.path("ivf"))).toDouble / userBytes
}

object Serve {
  val N = 5000
  val PoolSize = 400
  val StreamLen = 20000
  val Cells = 16
  val LloydIters = 1
  // discarded passes of the request schedule (five requests each)
  // before the window. Request latency keeps falling for the first fifty
  // or so requests of a fresh JVM (the JIT is still compiling; about 35%
  // from the tenth to the fiftieth), and how fast it falls depends on
  // the host's load, so a window that opens early measures the host.
  // Seven passes put the window on the flatter part of the curve.
  val WarmupSteps = 7
  // passes measured even when the window has closed, so the tail
  // quantile always has its ten samples beyond (40 requests: p75)
  val MinSteps = 8
  // Lloyd trains on every 17th vector: with topics cycling by id, its
  // k lowest-id seeds then cover every topic once
  val SampleEvery = 17
  val NProbe = 3
  val CentSchema: StructType = StructType(Seq(
    StructField("cell", IntegerType), StructField("centroid", ArrayType(DoubleType))))
}

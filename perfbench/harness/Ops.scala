package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.inspect.ParquetInspector
import graft.sources.ParquetWriterFacade

/** The operations a workload is made of. An op is one plan word,
  * `kind:arg:arg...`:
  *
  *  - `q:<query>`               declared query, built and collected
  *  - `footer|leaf|pages|walk:<table>`  ParquetInspector on the single file
  *  - `chunks:<table>`         `pageChunks`
  *  - `lookup:<table>:<u>`      `readPageData` of data page floor(u * pages)
  *  - `range:<table>:<u>:<share>`  `readPagesChunk` of chunk floor(u * chunks),
  *    capped at `share` of its bytes
  *  - `colstream:<table>:<column>`  drain of `ColumnStream.stringColumnIterator`
  *  - `append`                  `Ingest.appendedTreePath`, read back
  *  - `write:<default|ref>:<table>:<key>:<mod>:<rem>`  ParquetWriterFacade
  *    round trip of the rows with `key % mod == rem`, read back
  *
  * In a traced run every call into a module runs inside a span named after
  * the layer it belongs to.
  */
final class Ops(spark: SparkSession, dir: String, single: String,
    scratch: String, inspected: Seq[String]) {
  import Harness.sha
  import Ops.ChunkBytes

  private def file(t: String) = graft.Tables.path(single, t)

  // Reference payloads for the inspector checks, from one untimed walk of
  // each inspected file; lookups and ranges are verified against them.
  private val refPages: Map[String, IndexedSeq[Array[Byte]]] = inspected.map { t =>
    val it = ParquetInspector.rawPageIterator(file(t))
    try t -> it.map(_._2).toIndexedSeq finally it.close()
  }.toMap
  private val refChunks = inspected.map(t => t -> ParquetInspector.pageChunks(file(t), ChunkBytes)).toMap

  type Ctx = Option[(Trace, Int, Long)]
  var lastBuildCpu = 0.0
  private var writes = 0

  private def span[A](ctx: Ctx, name: String)(body: => A): A = ctx match {
    case Some((tr, op, parent)) => tr.span(op, parent, name)(_ => body)
    case None => body
  }

  private def collect(df: DataFrame, ctx: Ctx): Outcome = {
    val rows = span(ctx, "action")(df.collect())
    new Outcome(Render.rows(rows, df.schema), rows.length.toLong)
  }

  private def lines(ls: => Seq[String], n: Long, bytes: Long = 0): Outcome =
    new Outcome(Render.sha256(ls), n, bytes = bytes)

  /** Runs one op. Only the work up to the returned [[Outcome]] is timed;
    * its digest and self-check are evaluated afterwards.
    */
  def run(op: String, ctx: Ctx): Outcome = {
    val a = op.split(":").toSeq
    lastBuildCpu = 0.0
    a.head match {
      case "q" =>
        val c0 = Harness.cpuNs()
        val df = span(ctx, "queries.build")(graft.SparkEntry.queries(a(1))(spark, dir))
        lastBuildCpu = (Harness.cpuNs() - c0) / 1e9
        if (ctx.isDefined) span(ctx, "catalyst.plan")(df.queryExecution.executedPlan)
        collect(df, ctx)
      case "footer" =>
        val f = span(ctx, "inspect.footer")(ParquetInspector.footer(file(a(1))))
        lines(Seq(f.numRows, f.numRowGroups, f.schemaLeaves, f.createdBy).map(_.toString), 1)
      case "leaf" =>
        val l = span(ctx, "inspect.leaf")(ParquetInspector.leafColumns(file(a(1))))
        lines(l.map(_.toString), l.size.toLong)
      case "pages" =>
        val p = span(ctx, "inspect.page_index")(ParquetInspector.pages(file(a(1))))
        lines(p.map(_.toString), p.size.toLong)
      case "walk" =>
        val pages = span(ctx, "inspect.iter") {
          val it = ParquetInspector.rawPageIterator(file(a(1)))
          try it.map { case (p, b) => (p.pageType, b) }.toVector
          finally it.close()
        }
        lines(pages.map { case (t, b) => s"$t ${b.length} ${sha(b)}" }, pages.size.toLong,
          pages.map(_._2.length.toLong).sum)
      case "chunks" =>
        val c = span(ctx, "inspect.page_index")(ParquetInspector.pageChunks(file(a(1)), ChunkBytes))
        lines(c.map(_.toString), c.size.toLong)
      case "lookup" =>
        val ref = refPages(a(1))
        val page = (a(2).toDouble * ref.size).toInt
        val b = span(ctx, "inspect.lookup")(ParquetInspector.readPageData(file(a(1)), page.toLong))
        new Outcome(sha(b), 1, Some(java.util.Arrays.equals(b, ref(page))), b.length.toLong)
      case "range" =>
        val chunks = refChunks(a(1))
        val c = chunks((a(2).toDouble * chunks.size).toInt)
        val max = math.ceil(c.bytes * a(3).toDouble).toLong
        val b = span(ctx, "inspect.range")(
          ParquetInspector.readPagesChunk(file(a(1)), c.firstPageId, c.lastPageId, max))
        def ref = refPages(a(1)).slice(c.firstPageId.toInt, c.lastPageId.toInt + 1)
          .flatten.take(max.toInt).toArray
        new Outcome(sha(b), 1, Some(java.util.Arrays.equals(b, ref)), b.length.toLong)
      case "colstream" =>
        val vs = span(ctx, "ops.column_stream") {
          graft.ops.ColumnStream.stringColumnIterator(spark, file(a(1)), a(2)).toVector
        }
        lines(vs.map { case (p, v) => s"$p\u0001$v" }, vs.size.toLong,
          vs.map(_._2.length.toLong).sum)
      case "append" =>
        val path = span(ctx, "ops.ingest_append")(graft.ops.Ingest.appendedTreePath(spark, dir))
        collect(spark.read.parquet(path), ctx)
      case "write" =>
        val opts = if (a(1) == "ref") ParquetWriterFacade.referenceLike
          else ParquetWriterFacade.WriterOptions()
        val input = graft.Tables.load(spark, dir, a(2))
          .filter(col(a(3)) % a(4).toLong === a(5).toLong)
        writes += 1
        val out = s"$scratch/write_${ProcessHandle.current().pid()}_$writes"
        span(ctx, "sources.write")(ParquetWriterFacade.write(input, out, opts))
        val backDf = spark.read.parquet(out)
        val back = span(ctx, "action")(backDf.collect())
        val parts = Files.list(Paths.get(out)).iterator().asScala.toSeq
          .filter(_.getFileName.toString.endsWith(".parquet"))
        lazy val digest = Render.rows(back, backDf.schema)
        // the round trip must return exactly the rows that went in
        def check = try Some(digest == Render.rows(input.collect(), input.schema))
          finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
        val source = graft.inspect.ParquetInspector.datasetFiles(graft.Tables.path(dir, a(2)))
        new Outcome(digest, back.length.toLong, check, parts.map(Files.size).sum,
          parts.size.toLong, source.map(f => Files.size(Paths.get(f))).sum)
      case other => throw new IllegalArgumentException(s"unknown op kind $other")
    }
  }
}

/** What one op returned: its answer's digest and row count, bytes read
  * or written, files written and, for writes, the bytes of the input
  * files. The digest and the self-check are computed on first use, after
  * the op's clock has stopped.
  */
final class Outcome(digestOf: => String, val rows: Long,
    selfOkOf: => Option[Boolean] = None, val bytes: Long = 0, val files: Long = 0,
    val inBytes: Long = 0) {
  lazy val digest: String = digestOf
  lazy val selfOk: Option[Boolean] = selfOkOf
}

object Ops {
  /** `pageChunks` byte cap: a few pages per chunk on the fixture. */
  val ChunkBytes: Long = 512L * 1024
  /** Seeded kernel inputs for the microbench, loaded once, untimed. */
  final class Docs(spark: SparkSession, single: String) {
    lazy val text: Map[Long, String] = spark.read.parquet(graft.Tables.path(single, "documents"))
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    lazy val vecs: Map[Long, Array[Float]] = spark.read.parquet(graft.Tables.path(single, "embeddings"))
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
  }
}

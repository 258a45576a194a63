package perfbench

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{PortableMinHashKernel, SketchKernels, TokenizeKernels, VectorKernels}

/** Per-element microbench of the native kernels, called directly on the
  * public kernel objects with seeded inputs from `documents` and
  * `embeddings`. Each kernel runs `Reps` timed repetitions over all its
  * inputs; the report is the median nanoseconds per element.
  */
object Micro {
  val Reps = 7
  val Inner = 8

  private var sink = 0L

  private def time(n: Int)(body: => Unit): Double = {
    val ts = (1 to Reps).map { _ =>
      val t0 = System.nanoTime()
      var k = 0
      while (k < Inner) { body; k += 1 }
      (System.nanoTime() - t0).toDouble / (n * Inner)
    }.sorted
    ts(Reps / 2)
  }

  private def sortedDistinct(a: ArrayData): ArrayData = {
    val xs = (0 until a.numElements()).map(a.getUTF8String).distinct.sortWith(_.compareTo(_) < 0)
    new GenericArrayData(xs.toArray[Any])
  }

  def run(docs: Ops.Docs, plan: Harness.Plan): Json.Raw = {
    val texts = plan.list("micro_docs").map(i => UTF8String.fromString(docs.text(i.toLong))).toArray
    val toks = texts.map(TokenizeKernels.wsTokens)
    def pairs(k: String) = plan.list(k).map(_.split(",").map(_.toLong)).map(p => (p(0), p(1)))
    val byId = docs.text.map { case (k, v) => k -> sortedDistinct(TokenizeKernels.wsTokens(UTF8String.fromString(v))) }
    val setPairs = pairs("micro_pairs").map { case (a, b) => (byId(a), byId(b)) }.toArray
    val vecPairs = pairs("micro_vecs").map { case (a, b) =>
      (UnsafeArrayData.fromPrimitiveArray(docs.vecs(a)), UnsafeArrayData.fromPrimitiveArray(docs.vecs(b)))
    }.toArray
    def each[A](xs: Array[A])(f: A => Long): Unit = {
      var i = 0
      while (i < xs.length) { sink += f(xs(i)); i += 1 }
    }
    val agree = setPairs.forall { case (a, b) =>
      VectorKernels.jaccardSorted(a, b) == VectorKernels.jaccard(a, b)
    }
    Json.obj(
      "ws_tokens_ns" -> time(texts.length)(each(texts)(t => TokenizeKernels.wsTokens(t).numElements())),
      "minhash_ns" -> time(toks.length)(each(toks)(t => SketchKernels.minhash(t, 64).getLong(0))),
      "portable_minhash_ns" -> time(toks.length)(each(toks)(t => PortableMinHashKernel.sig(t, 32).numElements())),
      "simhash_ns" -> time(toks.length)(each(toks)(t => SketchKernels.simhash(t))),
      "ngram_hashes_ns" -> time(toks.length)(each(toks)(t => SketchKernels.ngramHashes(t, 3, false).numElements())),
      "dot_ns" -> time(vecPairs.length)(each(vecPairs) { case (a, b) => VectorKernels.dot(a, b, true).toLong }),
      "jaccard_sorted_ns" -> time(setPairs.length)(each(setPairs) { case (a, b) =>
        (VectorKernels.jaccardSorted(a, b) * 1000).toLong }),
      "jaccard_sorted_agrees" -> agree,
      "checksum" -> sink)
  }
}

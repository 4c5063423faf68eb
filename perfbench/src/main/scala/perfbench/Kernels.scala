package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.engine.Tables
import graft.expressions.{Md5Hash32Kernel, MinhashKernel, MyersLev, NgramMd5Kernel, TextKernels}

/** Per-row cost of the engine's hash and edit-distance kernels, called
  * directly on the workload's document texts, and the equality checks that
  * make those timings trustworthy: every Levenshtein distance is compared
  * with Spark's builtin `levenshtein` on the same pairs, and every
  * `graft_minhash16` signature with the md5-hex-window chain it replaced. */
object Kernels {
  /** Minimum wall time per kernel; the sample is repeated until it is met. */
  val MinNs = 200L * 1000 * 1000
  val LevPrefix = 100 // characters per Levenshtein operand (crosses the 64-bit block)

  /** (metric name, rows timed, ns per row, failed check) per kernel. */
  def run(spark: SparkSession, data: String): Seq[(String, Int, Double, Option[String])] = {
    val texts = Tables.t(spark, data, "documents").orderBy("doc_id")
      .select("text").collect().map(_.getString(0)).filter(_ != null)
    val utf = texts.map(UTF8String.fromString)
    // Spark's split(text, ' ') keeps trailing empty tokens, as split(-1) does
    val toks: Array[ArrayData] = texts.map(t =>
      new GenericArrayData(t.split(" ", -1).map(UTF8String.fromString): Array[Any]))
    val pairs = utf.indices.init.map(i =>
      (utf(i).substring(0, LevPrefix), utf(i + 1).substring(0, LevPrefix))).toArray

    val (mhNs, mh) = time(toks.length)(i => MinhashKernel.minhash16(toks(i)))
    val (ngNs, _) = time(toks.length)(i => NgramMd5Kernel.ngramMd5(toks(i), 8))
    val (m5Ns, _) = time(utf.length)(i => Md5Hash32Kernel.md5h32(utf(i)))
    val (nfNs, _) = time(utf.length)(i => TextKernels.normFingerprint(utf(i)))
    val (lvNs, lv) = time(pairs.length)(i => MyersLev.distance(pairs(i)._1, pairs(i)._2))
    val (lbNs, lb) = time(pairs.length)(i => pairs(i)._1.levenshteinDistance(pairs(i)._2))

    val levBad = pairs.indices.count(i => lv(i) != lb(i))
    val levProblem = if (levBad == 0) None
      else Some(s"graft_levenshtein differs from levenshtein on $levBad of ${pairs.length} pairs")
    val mhProblem = minhashMismatch(spark, texts, mh.map(_.asInstanceOf[ArrayData]))
    Seq(
      ("expressions.minhash16_ns_per_row", toks.length, mhNs, mhProblem),
      ("expressions.ngram_md5_ns_per_row", toks.length, ngNs, None),
      ("expressions.md5h32_ns_per_row", utf.length, m5Ns, None),
      ("expressions.norm_fingerprint_ns_per_row", utf.length, nfNs, None),
      ("expressions.levenshtein_ns_per_pair", pairs.length, lvNs, levProblem),
      ("expressions.levenshtein_builtin_ns_per_pair", pairs.length, lbNs, levProblem))
  }

  /** Runs `f` over 0 until n repeatedly for at least [[MinNs]]; returns
    * ns per call and the results of the first sweep. */
  def time(n: Int)(f: Int => Any): (Double, Array[Any]) = {
    val first = Array.tabulate[Any](n)(f) // warms the path; kept for checks
    var calls = 0L
    var sink = 0
    val start = System.nanoTime()
    while (System.nanoTime() - start < MinNs) {
      var i = 0
      while (i < n) { sink ^= f(i).hashCode; i += 1 }
      calls += n
    }
    val ns = (System.nanoTime() - start).toDouble / calls
    if (sink == 42) print("") // keeps the results observable
    (ns, first)
  }

  /** Compares kernel signatures with the builtin md5-hex-window chain
    * (16 slots, 3-token shingles, seeds "m0:"/"m1:") evaluated by Spark. */
  def minhashMismatch(spark: SparkSession, texts: Array[String],
      kernel: Array[ArrayData]): Option[String] = {
    import spark.implicits._
    val toks = split(col("text"), " ")
    val sh = when(size(toks) < 3, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(0), size(toks) - 3),
        i => concat_ws(" ", element_at(toks, i + 1), element_at(toks, i + 2),
          element_at(toks, i + 3))))
    val slots = (0 until 16).map { s =>
      array_min(transform(sh,
        h => substring(md5(concat(lit(s"m${s / 8}:"), h).cast("binary")), 4 * (s % 8) + 1, 4)))
    }
    val builtin = texts.zipWithIndex.toSeq.toDF("text", "i")
      .select(col("i") +: slots: _*).collect()
      .map(r => r.getInt(0) -> (1 to 16).map(r.getString)).toMap
    val bad = kernel.indices.count { i =>
      val k = kernel(i)
      (0 until 16).exists(s => k.getUTF8String(s).toString != builtin(i)(s))
    }
    if (bad == 0) None
    else Some(s"graft_minhash16 differs from the md5 window chain on $bad of ${texts.length} rows")
  }
}

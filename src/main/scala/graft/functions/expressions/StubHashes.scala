package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Compiled twins of the multimodal stub hashes
  * ([[graft.operators.Multimodal.textDhash56]] /
  * [[graft.operators.Multimodal.textAudioFp32]] /
  * [[graft.operators.Multimodal.textAudioEnergy]]).
  *
  * Why (round-11 verdict item): the Column-composition forms are
  * semantically perfect but are ~5000-node expression trees — each
  * EXECUTION pays ~2.4 s of driver analysis + whole-stage codegen
  * before the first row moves (sf-invariant, measured: qm04 wall at
  * sf0.001 == sf0.1). The HOF alternative is a small tree but
  * CodegenFallback-interpreted at ~2.5 ms/row — the wrong trade at any
  * scale. These expressions are the third point of the trade space:
  * ONE tree node whose codegen is a single static JVM call — ~0 driver
  * tax AND codegen'd per-row cost.
  *
  * Semantics are locked to the Column forms bit for bit (spec:
  * StubHashExprSpec asserts equality on real documents plus
  * adversarial strings): per cell i of a k-cell pseudo-grid,
  * `ascii(substr(text, 1 + (i*s) % n, 1)) % 256` with
  * n = max(numChars, 1), s = max(numChars/k, 1) — `substr` is
  * 1-indexed by CODE POINT and Spark's `ascii` is codePointAt(0) of
  * the first character (0 on empty), both mirrored exactly here and in
  * the unchanged DuckDB oracle SQL.
  */
object StubHashes {

  /** Code point at 0-based char index `i`, as Spark's
    * `ascii(substr(text, i+1, 1))` computes it; 0 past the end.
    * ASCII-only strings (numBytes == numChars) read the byte directly;
    * the general path mirrors UTF8String.substringSQL + codePointAt. */
  private def cellCp(u: UTF8String, nc: Int, i: Int): Int =
    if (i >= nc) 0
    else if (u.numBytes() == nc) u.getByte(i) & 0x7f
    else {
      val ch = u.substringSQL(i + 1, 1)
      if (ch.numChars() > 0) ch.toString.codePointAt(0) else 0
    }

  /** Cell i of a k-cell grid: codepoint-luma on the strided position. */
  private def cell(u: UTF8String, nc: Int, k: Int, i: Int): Int = {
    val n = math.max(nc.toLong, 1L)
    val s = math.max(nc.toLong / k, 1L)
    cellCp(u, nc, ((i.toLong * s) % n).toInt) % 256
  }

  /** 56-bit dHash over the 8x8 codepoint grid — bit r*7+c set iff
    * cell(r*8+c) > cell(r*8+c+1). */
  def dhash56(u: UTF8String): Long = {
    val nc = u.numChars()
    val cells = new Array[Int](64)
    var i = 0
    while (i < 64) { cells(i) = cell(u, nc, 64, i); i += 1 }
    var h = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 7) {
        if (cells(r * 8 + c) > cells(r * 8 + c + 1)) h |= 1L << (r * 7 + c)
        c += 1
      }
      r += 1
    }
    h
  }

  /** The 33 window energies of the audio stub: 4 signed amplitudes per
    * window over a 132-cell grid, energy = sum of squares. */
  private def energies(u: UTF8String): Array[Long] = {
    val nc = u.numChars()
    val e = new Array[Long](33)
    var w = 0
    while (w < 33) {
      var sum = 0L
      var j = 0
      while (j < 4) {
        val a = cell(u, nc, 132, w * 4 + j) - 128
        sum += a.toLong * a
        j += 1
      }
      e(w) = sum
      w += 1
    }
    e
  }

  /** 32-bit energy-delta fingerprint: bit w set iff e(w+1) > e(w). */
  def audioFp32(u: UTF8String): Long = {
    val e = energies(u)
    var h = 0L
    var w = 0
    while (w < 32) {
      if (e(w + 1) > e(w)) h |= 1L << w
      w += 1
    }
    h
  }

  /** Total stub-PCM energy (exact integer). */
  def audioEnergy(u: UTF8String): Long = energies(u).sum

  /** The 64 window energies of the WIDE audio stub (the qm10 twin of
    * the production 64-bit fingerprint width): 4 signed amplitudes per
    * window over a 256-cell grid. */
  private def energies64(u: UTF8String): Array[Long] = {
    val nc = u.numChars()
    val e = new Array[Long](64)
    var w = 0
    while (w < 64) {
      var sum = 0L
      var j = 0
      while (j < 4) {
        val a = cell(u, nc, 256, w * 4 + j) - 128
        sum += a.toLong * a
        j += 1
      }
      e(w) = sum
      w += 1
    }
    e
  }

  /** 63-bit energy-delta fingerprint: bit w set iff e64(w+1) > e64(w)
    * for w in 0..62 — 63 bits so the value stays positive in a signed
    * 64-bit in both engines (the dhash56 trick), while carrying the
    * production width's collision resistance (NOTES_r13: the
    * 32-bit space collapses under birthday pressure by ~10⁴ clips). */
  def audioFp63(u: UTF8String): Long = {
    val e = energies64(u)
    var h = 0L
    var w = 0
    while (w < 63) {
      if (e(w + 1) > e(w)) h |= 1L << w
      w += 1
    }
    h
  }
}

/** Shared shape of the three stub-hash expressions: string → long,
  * null-propagating, codegen = one static call. */
sealed abstract class StubHashExpression extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${other.simpleString}")
  }
  override def dataType: DataType = LongType
  /** Name of the static method on [[StubHashes]] to call. */
  protected def method: String
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.expressions.StubHashes.$method($c)")
}

/** SQL function `graft_text_dhash56` ([[graft.GraftExtensions]]). */
case class TextDhash56Expr(child: Expression) extends StubHashExpression {
  override protected def method: String = "dhash56"
  override def nullSafeEval(input: Any): Any =
    StubHashes.dhash56(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_text_dhash56"
}

/** SQL function `graft_text_audio_fp32` ([[graft.GraftExtensions]]). */
case class TextAudioFp32Expr(child: Expression) extends StubHashExpression {
  override protected def method: String = "audioFp32"
  override def nullSafeEval(input: Any): Any =
    StubHashes.audioFp32(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_text_audio_fp32"
}

/** SQL function `graft_text_audio_fp63` ([[graft.GraftExtensions]]). */
case class TextAudioFp63Expr(child: Expression) extends StubHashExpression {
  override protected def method: String = "audioFp63"
  override def nullSafeEval(input: Any): Any =
    StubHashes.audioFp63(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_text_audio_fp63"
}

/** SQL function `graft_text_audio_energy` ([[graft.GraftExtensions]]). */
case class TextAudioEnergyExpr(child: Expression) extends StubHashExpression {
  override protected def method: String = "audioEnergy"
  override def nullSafeEval(input: Any): Any =
    StubHashes.audioEnergy(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_text_audio_energy"
}

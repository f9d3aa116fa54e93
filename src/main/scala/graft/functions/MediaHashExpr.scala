package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  EmptyBlock, ExprCode, JavaCode, TrueLiteral}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, NullType}

/** Native codegen kernels for the perceptual media fingerprints
  * (optimization r20 — the "graft_dot precedent" applied to the
  * multimodal rung).
  *
  * The original fingerprints are pure-Catalyst hex-transcript folds
  * (Multimodal.dHashHexReference / wavEnvelopeHexReference): upper(hex(
  * payload)) materializes a 2×-size string per row, and every pixel
  * read is a substring + conv(_,16,10) subtree — 56 comparisons × 2
  * reads for the image hash ≈ 240 string-slicing expression nodes per
  * row, which is both a large per-row cost and a large CODEGEN unit
  * (the 9-7 thumbnail fold dominated q_mm_neardup's per-rep wall).
  * These expressions compute the identical bits straight off the
  * payload BYTES in a primitive loop — no hex transcript, no string
  * allocation, one function call per row inside whole-stage codegen.
  *
  * Bit-exactness contract (MediaHashSpec pins both kernels against the
  * hex-transcript references row-for-row, valid AND malformed inputs):
  * the DuckDB oracle keeps replaying the hex-transcript SQL, so the
  * oracle gate re-certifies kernel-vs-transcript equality on every
  * run.
  *
  * NULL semantics (the wavMeta honesty rule): a payload that is not a
  * well-formed container (wrong magic, truncated) yields NULL — same
  * three-valued outcome as the reference's failed `ok` guard.
  */
private[graft] trait MediaHashExpr extends UnaryExpression {
  override def dataType: DataType = LongType
  // malformed payloads yield NULL even when the input is non-null
  override def nullable: Boolean = true

  // binary only, plus an uncast NULL literal (NullType), which hashes
  // to NULL
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType | NullType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a binary argument, got ${other.catalogString}")
  }

  /** Fully-qualified static kernel entry, e.g.
    * "graft.functions.MediaHash$.MODULE$.imgDHashOrNull". */
  protected def kernel: String

  protected def kernelEval(bytes: Array[Byte]): java.lang.Long

  override def nullSafeEval(input: Any): Any =
    kernelEval(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    if (child.dataType == NullType)
      ev.copy(code = EmptyBlock, isNull = TrueLiteral,
        value = JavaCode.defaultLiteral(dataType))
    else nullSafeCodeGen(ctx, ev, c => {
      val boxed = ctx.freshName("fp")
      s"""
         |java.lang.Long $boxed = $kernel($c);
         |if ($boxed == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $boxed.longValue();
         |}
       """.stripMargin
    })
}

/** 56-bit image dHash over an IMGG 9×7 grayscale container —
  * bit-identical to Multimodal.dHashHexReference. */
case class ImgDHash(child: Expression) extends MediaHashExpr {
  override def prettyName: String = "graft_img_dhash"
  override protected def kernel: String =
    "graft.functions.MediaHash$.MODULE$.imgDHashOrNull"
  override protected def kernelEval(b: Array[Byte]): java.lang.Long =
    MediaHash.imgDHashOrNull(b)
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** 31-bit audio energy-envelope hash over a canonical 44-byte-header
  * WAV — bit-identical to Multimodal.wavEnvelopeHexReference. */
case class WavEnvHash(child: Expression) extends MediaHashExpr {
  override def prettyName: String = "graft_wav_envhash"
  override protected def kernel: String =
    "graft.functions.MediaHash$.MODULE$.wavEnvHashOrNull"
  override protected def kernelEval(b: Array[Byte]): java.lang.Long =
    MediaHash.wavEnvHashOrNull(b)
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object MediaHash {

  /** IMGG magic + 9×7 dims + 63 pixel bytes = 69 bytes minimum —
    * byte-level form of the reference's hex guard (substr 1-8 =
    * "494D4747", substr 9-12 = "0907", hex length ≥ 138). */
  private def imgValid(b: Array[Byte]): Boolean =
    b.length >= 69 &&
      b(0) == 0x49 && b(1) == 0x4D && b(2) == 0x47 && b(3) == 0x47 &&
      b(4) == 0x09 && b(5) == 0x07

  /** bit(b) = pixel(r, c) < pixel(r, c+1) over the 9-wide rows, 56
    * comparison bits (deliberately not 64 — the sign-bit rule of the
    * reference). Pixels are UNSIGNED bytes at offset 6 + k. */
  def imgDHashOrNull(b: Array[Byte]): java.lang.Long = {
    if (b == null || !imgValid(b)) return null
    var fp = 0L
    var bit = 0
    while (bit < 56) {
      val r = bit / 8
      val c = bit % 8
      val base = 6 + r * 9 + c
      if ((b(base) & 0xFF) < (b(base + 1) & 0xFF)) fp |= 1L << bit
      bit += 1
    }
    java.lang.Long.valueOf(fp)
  }

  /** RIFF/WAVE/data magics of the canonical 44-byte header + 64 PCM
    * bytes = 108 bytes minimum — byte-level form of the reference's
    * hex guard (substr 1-8, 17-24, 73-80; hex length ≥ 216). */
  private def wavValid(b: Array[Byte]): Boolean =
    b.length >= 108 &&
      b(0) == 0x52 && b(1) == 0x49 && b(2) == 0x46 && b(3) == 0x46 &&
      b(8) == 0x57 && b(9) == 0x41 && b(10) == 0x56 && b(11) == 0x45 &&
      b(36) == 0x64 && b(37) == 0x61 && b(38) == 0x74 && b(39) == 0x61

  /** Per-frame energy = Σ|s−128| over 2 samples; bit(i) = e(i) <
    * e(i+1) over 32 frames → 31 bits. PCM starts at byte 44. */
  def wavEnvHashOrNull(b: Array[Byte]): java.lang.Long = {
    if (b == null || !wavValid(b)) return null
    def energy(f: Int): Int = {
      val i = 44 + 2 * f
      math.abs((b(i) & 0xFF) - 128) + math.abs((b(i + 1) & 0xFF) - 128)
    }
    var fp = 0L
    var bit = 0
    while (bit < 31) {
      if (energy(bit) < energy(bit + 1)) fp |= 1L << bit
      bit += 1
    }
    java.lang.Long.valueOf(fp)
  }

  /** Shared builders for BOTH registration paths (the CharShingles
    * convention). */
  def imgFromExprs(exprs: Seq[Expression]): ImgDHash = {
    if (exprs.length != 1)
      throw new IllegalArgumentException(
        s"graft_img_dhash takes exactly 1 argument, got ${exprs.length}")
    ImgDHash(exprs.head)
  }

  def wavFromExprs(exprs: Seq[Expression]): WavEnvHash = {
    if (exprs.length != 1)
      throw new IllegalArgumentException(
        s"graft_wav_envhash takes exactly 1 argument, got ${exprs.length}")
    WavEnvHash(exprs.head)
  }

  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_img_dhash", imgFromExprs, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_wav_envhash", wavFromExprs, "built-in")
  }

  def img_dhash(payload: Column): Column =
    call_function("graft_img_dhash", payload)

  def wav_envhash(payload: Column): Column =
    call_function("graft_wav_envhash", payload)
}

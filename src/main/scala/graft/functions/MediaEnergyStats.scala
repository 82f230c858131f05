package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._

/** Frame-energy statistics of a binary payload in ONE pass — the
  * audio-modality member of the media battery ([[MediaDims]] parses
  * image headers, this segments "PCM" energy): bytes are read as
  * unsigned 8-bit samples centered at 128, a frame is `frameBytes`
  * consecutive samples (the trailing partial frame counts with its
  * real bytes), frame energy is the exact integer Σ(b−128)², and a
  * frame is SILENT when its energy is below the threshold — the
  * voice-activity-detection shape (energy-gated VAD) every audio
  * curation pipeline runs before transcription.
  *
  * STUB decode seam (the [[graft.llm.Multimodal.fakeDecodeFeatures]]
  * contract): real audio arrives as containers (wav/flac/ogg) whose
  * sample decode replaces the byte-as-sample reading; the framing,
  * energy fold, threshold gate and the downstream ratio/run math are
  * the real operator.
  *
  * Returns struct(n_frames, n_silent, energy_q) — all exact LONGs,
  * mirrored by the oracle's hex-accessor list fold. Empty payloads
  * return (0, 0, 0). */
case class MediaEnergyStats(child: Expression, frameBytes: Int,
                            threshold: Long) extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = MediaEnergyStats.schema

  override def inputTypes = Seq(BinaryType)

  override def nullSafeEval(input: Any): Any =
    MediaEnergyStats.build(input.asInstanceOf[Array[Byte]], frameBytes,
      threshold)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.MediaEnergyStats.build($a, " +
        s"$frameBytes, ${threshold}L);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = s"media_energy_stats($frameBytes, $threshold)"
}

object MediaEnergyStats {
  val schema: StructType = StructType(Seq(
    StructField("n_frames", LongType, nullable = false),
    StructField("n_silent", LongType, nullable = false),
    StructField("energy_q", LongType, nullable = false)))

  def apply(payload: Column, frameBytes: Int, threshold: Long): Column =
    bridge.toColumn(MediaEnergyStats(bridge.toExpression(payload),
      frameBytes, threshold))

  /** Shared eval body for interpreted and generated paths. */
  def build(payload: Array[Byte], frameBytes: Int,
            threshold: Long): InternalRow = {
    val n = payload.length
    var nFrames = 0L; var nSilent = 0L; var total = 0L
    var i = 0
    while (i < n) {
      val end = math.min(i + frameBytes, n)
      var e = 0L
      var j = i
      while (j < end) {
        val d = (payload(j) & 0xFF) - 128
        e += d.toLong * d
        j += 1
      }
      nFrames += 1
      if (e < threshold) nSilent += 1
      total += e
      i = end
    }
    InternalRow(nFrames, nSilent, total)
  }
}

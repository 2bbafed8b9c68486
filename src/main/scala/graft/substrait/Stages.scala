package graft.substrait

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Encoders}

import graft.ops.Multimodal._

/** Registry of named partition-wise typed stages — the resolution table for
  * `Rel.ExtStage`. A stage crosses the wire as a symbolic name (the
  * convention engines use for UDF stages); both ends must agree on its
  * semantics, so each entry pins:
  *
  *  - `inputCols`: the positional input contract. Wire frames carry
  *    positional fresh names, so the consumer renames the input by POSITION
  *    before rebuilding (arity-checked by the Validator).
  *  - `outputArity`: declared output width, used for emit/arity resolution
  *    without executing the stage.
  *  - `fn`: the partition function — the producer encodes a MapPartitions
  *    under this name only when its closure IS this instance.
  *  - `rebuild`: reconstructs the typed pipeline `in.as[I].mapPartitions(fn)`
  *    on the consuming session, with encoders derived once, here.
  *
  * Versioned names ("…_v1") keep old plans decodable if a stage's contract
  * ever changes: ship a _v2 alongside instead of mutating _v1.
  */
object Stages {

  final case class Stage(name: String, inputCols: Seq[String], outputArity: Int,
                         fn: AnyRef, rebuild: DataFrame => DataFrame)

  private def stage[I <: Product : TypeTag, O <: Product : TypeTag](
      name: String, inputCols: Seq[String], outputArity: Int,
      fn: Iterator[I] => Iterator[O]): Stage = {
    val in = Encoders.product[I]
    val out = Encoders.product[O]
    Stage(name, inputCols, outputArity, fn, _.as(in).mapPartitions(fn)(out).toDF())
  }

  private val payload = Seq("doc_id", "payload")
  private val content = Seq("doc_id", "content_id")

  private val stages: Seq[Stage] = Seq(
    // (doc_id, media_type, payload) → (doc_id, media_type, n_bytes, feature)
    // via the partition-wise decode
    stage("graft.media_features_v1", Seq("doc_id", "media_type", "payload"), 4,
      mediaFeaturesFn),
    // doc_id → real PNG payload (ImageIO.write)
    stage("graft.png_encode_v1", Seq("doc_id"), 2, pngEncodeFn),
    // (doc_id, payload) → decoded (doc_id, width, height, channels,
    // mean_luma) via ImageIO.read
    stage("graft.image_decode_v1", payload, 5, imageDecodeFn),
    // (doc_id, payload) → one row per decoded image row
    // (doc_id, y, line_bytes, line_luma)
    stage("graft.image_scanlines_v1", payload, 4, imageScanlinesFn),
    // doc_id → real RIFF/WAVE payload
    stage("graft.wav_encode_v1", Seq("doc_id"), 2, wavEncodeFn),
    // (doc_id, payload) → decoded
    // (doc_id, sample_rate, channels, n_samples, mean_abs)
    stage("graft.audio_decode_v1", payload, 5, audioDecodeFn),
    // (doc_id, payload) → (doc_id, payload) at half resolution via real
    // decode → stride-2 resample → re-encode
    stage("graft.image_resize_v1", payload, 2, imageResizeFn),
    // doc_id → real animated-GIF payload
    stage("graft.gif_encode_v1", Seq("doc_id"), 2, gifEncodeFn),
    // (doc_id, payload) → one row per decoded frame
    // (doc_id, frame_idx, width, height, mean_luma)
    stage("graft.gif_frames_v1", payload, 5, gifFramesFn),
    // doc_id → real baseline-JPEG payload at pinned quality 0.85 (the first
    // LOSSY stage; decode reuses graft.image_decode_v1)
    stage("graft.jpeg_encode_v1", Seq("doc_id"), 2, jpegEncodeFn),
    // doc_id → μ-law (G.711) WAV payload, fmt tag 7 — lossy companding
    // with an EXACT closed-form replay
    stage("graft.ulaw_encode_v1", Seq("doc_id"), 2, ulawEncodeFn),
    // (doc_id, payload) → decoded (doc_id, n_samples, mean_abs_q)
    stage("graft.ulaw_decode_v1", payload, 3, ulawDecodeFn),
    // (doc_id, content_id) → real GIF whose pixels derive from content_id
    // (the re-upload model for m12)
    stage("graft.gif_encode_content_v1", content, 2, gifEncodeContentFn),
    // (doc_id, payload) → one row per decoded frame
    // (doc_id, frame_idx, width, height, raster_fnv)
    stage("graft.gif_frame_hash_v1", payload, 5, gifFrameHashFn),
    // (doc_id, content_id) → μ-law WAV whose signal derives from content_id
    // (the audio re-upload model)
    stage("graft.ulaw_encode_content_v1", content, 2, ulawEncodeContentFn),
    // (doc_id, payload) → decoded-signal fingerprint
    // (doc_id, n_samples, pcm_fnv)
    stage("graft.ulaw_decode_hash_v1", payload, 3, ulawDecodeHashFn),
    // (doc_id, content_id, scale) → PNG whose content derives from
    // content_id; scale=2 is a REAL half-resolution re-encode (the
    // downscaled-re-upload model)
    stage("graft.phash_encode_v1", Seq("doc_id", "content_id", "scale"), 2,
      phashEncodeFn),
    // (doc_id, payload) → decoded 9x8-grid gradient perceptual hash
    // (doc_id, width, height, dhash)
    stage("graft.phash_decode_v1", payload, 4, phashDecodeFn))

  val registry: Map[String, Stage] = stages.map(s => s.name -> s).toMap

  /** Producer-side reverse lookup by EXACT closure identity: each wire name
    * binds to one registered function instance, so a second mapPartitions
    * closure added anywhere (even beside a registered one) can never
    * silently encode under an existing stage name — it stays a loud
    * notImplemented. (A class-name prefix match would be a silent
    * wrong-result hazard: the consumer rebuilds whatever the NAME says.)
    */
  def nameOf(func: AnyRef): Option[String] =
    stages.collectFirst { case s if s.fn eq func => s.name }
}

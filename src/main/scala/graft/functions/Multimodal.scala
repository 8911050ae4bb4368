package graft.functions

import org.apache.spark.sql.Dataset

/** Multimodal column plumbing (builder brief): image/audio/video travel
  * as opaque BINARY columns with typed metadata; decode / feature
  * extraction / frame sampling run distributed via mapPartitions over a
  * typed Dataset (the Scala analog of mapInPandas batches — one
  * partition = one batch, no driver collects, no per-row JVM↔native
  * round-trips).
  *
  * The actual codec is STUBBED (no image/audio libraries in this
  * container): `decode` parses a deterministic fake header
  * `GRAFT1|<format>|<width>|<height>|<nframes>|payload...` instead of
  * a real JPEG/WAV parse. Everything around it — schema, Encoders,
  * partitioning, batch shape — is the real Spark plumbing and is
  * what a codec swap-in would reuse unchanged.
  */
object Multimodal {

  final case class Media(mediaId: Long, bytes: Array[Byte])

  final case class MediaMeta(mediaId: Long, format: String, width: Int,
      height: Int, nFrames: Int, byteLen: Int, valid: Boolean)

  final case class MediaFeature(mediaId: Long, feature: Array[Float])

  final case class Frame(mediaId: Long, frameIdx: Int, bytes: Array[Byte])

  /** Build a fake encoded media blob (test/fixture helper). */
  def encodeFake(format: String, width: Int, height: Int, nFrames: Int,
      payload: Array[Byte]): Array[Byte] =
    (s"GRAFT1|$format|$width|$height|$nFrames|".getBytes("UTF-8")) ++ payload

  /** STUB decode: parse the fake header. A real implementation would
    * replace only this function (e.g. javax.imageio / ffmpeg JNI). */
  private[functions] def decodeHeader(bytes: Array[Byte]): Option[(String, Int, Int, Int, Int)] = {
    val headerEnd = {
      var pipes = 0; var i = 0
      while (i < bytes.length && pipes < 5) { if (bytes(i) == '|') pipes += 1; i += 1 }
      if (pipes == 5) i else -1
    }
    if (headerEnd < 0) None
    else {
      val parts = new String(bytes.take(headerEnd - 1), "UTF-8").split("\\|")
      if (parts.length != 5 || parts(0) != "GRAFT1") None
      else try Some((parts(1), parts(2).toInt, parts(3).toInt, parts(4).toInt,
        bytes.length - headerEnd))
      catch { case _: NumberFormatException => None }
    }
  }

  private[functions] def payloadOf(bytes: Array[Byte]): Array[Byte] = {
    var pipes = 0; var i = 0
    while (i < bytes.length && pipes < 5) { if (bytes(i) == '|') pipes += 1; i += 1 }
    bytes.drop(i)
  }

  /** Decode metadata for every blob — one pass per partition, bad blobs
    * flagged instead of failing the job (PERMISSIVE semantics). */
  def decodeMeta(ds: Dataset[Media]): Dataset[MediaMeta] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.map { m =>
      decodeHeader(m.bytes) match {
        case Some((fmt, w, h, nf, plen)) =>
          MediaMeta(m.mediaId, fmt, w, h, nf, plen, valid = true)
        case None =>
          MediaMeta(m.mediaId, "unknown", 0, 0, 0, m.bytes.length, valid = false)
      }
    })
  }

  /** Feature extraction: a 16-bin byte histogram of the payload,
    * L1-normalized — the stand-in for an embedding model forward pass.
    * Deterministic, per-partition batched. */
  def featurize(ds: Dataset[Media]): Dataset[MediaFeature] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.map { m =>
      val payload = payloadOf(m.bytes)
      val hist = new Array[Float](16)
      payload.foreach(b => hist((b & 0xff) >> 4) += 1f)
      val total = math.max(1f, payload.length.toFloat)
      MediaFeature(m.mediaId, hist.map(_ / total))
    })
  }

  /** Resize: nearest-neighbor downsample of the payload treated as
    * `nFrames` consecutive width×height byte grids (the stub codec's
    * "pixel" layout), emitting a re-encoded blob with the new
    * dimensions in its header — so resized media flows through the same
    * decode/featurize/frame-sample operators unchanged. Each frame is
    * resized independently at its `f*w*h` base offset and the output
    * carries `nFrames` frames of `newW*newH` bytes, so a downstream
    * [[frameSample]] slices the SAME frame boundaries it would have
    * before the resize (a single-grid resize that kept nFrames in the
    * header handed it misaligned pseudo-frames). A real implementation
    * swaps only the pixel math (imageio/ffmpeg); the Dataset shape
    * (map-only, no shuffle, per-partition batches) is the production
    * plumbing. */
  def resize(ds: Dataset[Media], newW: Int, newH: Int): Dataset[Media] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.map { m =>
      decodeHeader(m.bytes) match {
        case Some((fmt, w, h, nf, _)) if w > 0 && h > 0 && nf > 0 &&
            newW > 0 && newH > 0 =>
          val payload = payloadOf(m.bytes)
          val out = new Array[Byte](newW * newH * nf)
          var f = 0
          while (f < nf) {
            val srcBase = f * w * h
            val dstBase = f * newW * newH
            var y = 0
            while (y < newH) {
              val sy = y * h / newH
              var x = 0
              while (x < newW) {
                val sx = x * w / newW
                val src = srcBase + sy * w + sx
                out(dstBase + y * newW + x) =
                  if (src < payload.length) payload(src) else 0
                x += 1
              }
              y += 1
            }
            f += 1
          }
          Media(m.mediaId, encodeFake(fmt, newW, newH, nf, out))
        case _ => m // undecodable or degenerate: pass through untouched
      }
    })
  }

  /** Frame sampling: every `everyN`-th frame of a fake video payload
    * (frames are equal slices, per the stub codec). */
  def frameSample(ds: Dataset[Media], everyN: Int): Dataset[Frame] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.flatMap { m =>
      decodeHeader(m.bytes) match {
        case Some((_, _, _, nFrames, _)) if nFrames > 0 =>
          val payload = payloadOf(m.bytes)
          val frameLen = math.max(1, payload.length / nFrames)
          (0 until nFrames by math.max(1, everyN)).map { i =>
            Frame(m.mediaId, i,
              payload.slice(i * frameLen, math.min((i + 1) * frameLen, payload.length)))
          }
        case _ => Iterator.empty
      }
    })
  }
}

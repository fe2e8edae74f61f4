package graft.media

import graft.imaging.Raster
import graft.text.Hashing

/** Resolves a span's `media_ref` to decoded pixels. Pluggable so tests and
  * benchmarks run without external image bytes while the file-backed
  * implementation covers real corpora (reference test images).
  *
  * Resolution failures are data, not errors: they surface as Left and the
  * signature stage routes them to the bad-record side output (reference
  * behavior: decode errors accumulate off the hot path and never abort the
  * scan, `dedupe.go:41-47,79-85`).
  */
trait MediaResolver extends Serializable {
  def resolve(ref: String): Either[String, Raster]
}

/** file path / file: refs via JDK ImageIO (jpeg/png/gif). */
object FileMedia extends MediaResolver {
  def resolve(ref: String): Either[String, Raster] = {
    val path = if (ref.startsWith("file:")) ref.stripPrefix("file:") else ref
    Raster.decodeFile(path)
  }
}

/** Deterministic synthetic media: `synth://<seed>[?noise=<k>]` renders a
  * 32×32 greyscale field whose 8×8 low-frequency DCT block carries a seeded
  * balanced ±sign codeword — i.e. the image is the INVERSE DCT of a known
  * pHash target, so the real resize+DCT+median kernel recovers it exactly:
  *   - distinct seeds ⇒ independent balanced codewords ⇒ expected pHash
  *     distance ≈ 32 bits, P(d < 11) ≈ 3·10⁻⁸ (collision-free in practice);
  *   - `noise=k` flips the signs of k chosen coefficients ⇒ pHash distance
  *     ≈ k (+O(1) median shift) — a controlled near-duplicate.
  * Used by the labeled corpus and the throughput benchmark; exercises the
  * REAL kernels without any image files and with provable separation (the
  * reason a smooth-random-field generator was rejected: at the reference's
  * radius 22/64 even ideal random hashes collide at ~0.4%, which destroys
  * pairwise precision on any corpus with >100 entities).
  */
object SynthMedia extends MediaResolver {
  private val Size = 32
  private val Region = 8

  def resolve(ref: String): Either[String, Raster] = {
    if (!ref.startsWith("synth://")) return Left(s"not a synth ref: $ref")
    val body = ref.stripPrefix("synth://")
    val (seedStr, noiseStr) = body.indexOf("?noise=") match {
      case -1 => (body, "0")
      case i => (body.substring(0, i), body.substring(i + 7))
    }
    // failure contract of the trait: malformed refs are DATA (Left → the
    // BadMedia side channel), never an executor-killing NumberFormatException
    scala.util.Try(noiseStr.toInt).toOption match {
      case Some(noise) => Right(render(Hashing.hash64(seedStr), noise))
      case None => Left(s"malformed noise parameter in synth ref: $ref")
    }
  }

  def render(seed: Long, noise: Int): Raster = {
    // balanced codeword: seeded shuffle of 64 slots, first 32 are +1
    val order = shuffled(seed, 64)
    val sign = new Array[Double](64)
    var i = 0
    while (i < 64) { sign(order(i)) = if (i < 32) 1.0 else -1.0; i += 1 }
    // distinct amplitudes (deterministic tie-free median) in [1.0, 1.3)
    val ampOrder = shuffled(Hashing.mix64(seed ^ 0x616d70L), 64)
    val amp = new Array[Double](64)
    i = 0
    while (i < 64) { amp(ampOrder(i)) = 1.0 + 0.3 * i / 64.0; i += 1 }
    // noise: flip the first k signs in a third seeded order
    if (noise > 0) {
      val flipOrder = shuffled(Hashing.mix64(seed ^ 0x666c6970L), 64)
      var f = 0
      while (f < math.min(noise, 64)) { sign(flipOrder(f)) = -sign(flipOrder(f)); f += 1 }
    }
    // grey(i,j) = 128 + Σ_s sign·amp·cos((2i+1)x_s π/64)cos((2j+1)y_s π/64)
    val img = Raster(Size, Size)
    val cosT = CosLut
    var yy = 0
    while (yy < Size) {
      var xx = 0
      while (xx < Size) {
        var v = 128.0
        var s = 0
        while (s < 64) {
          val fx = s / Region + 1
          val fy = s % Region + 1
          v += sign(s) * amp(s) * cosT(fx * Size + xx) * cosT(fy * Size + yy)
          s += 1
        }
        val byteVal = math.max(0, math.min(255, math.round(v).toInt))
        val p = (yy * Size + xx) * 4
        img.pix(p) = byteVal.toByte
        img.pix(p + 1) = byteVal.toByte
        img.pix(p + 2) = byteVal.toByte
        img.pix(p + 3) = 0xff.toByte
        xx += 1
      }
      yy += 1
    }
    img
  }

  // cos((2i+1) u π / 64) for u in 0..31, i in 0..31 — [u][i]
  private val CosLut: Array[Double] = {
    val t = new Array[Double](Size * Size)
    var u = 0
    while (u < Size) {
      var i = 0
      while (i < Size) {
        t(u * Size + i) = math.cos(((2 * i + 1) * u).toDouble / (2 * Size).toDouble * math.Pi)
        i += 1
      }
      u += 1
    }
    t
  }

  /** Seeded Fisher-Yates permutation of 0 until n. */
  private def shuffled(seed: Long, n: Int): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    var s = seed
    var i = n - 1
    while (i > 0) {
      s = Hashing.mix64(s)
      val j = (java.lang.Long.remainderUnsigned(s, (i + 1).toLong)).toInt
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  /** Deterministic 8-segment "melody" WAV: each eighth of the clip is a
    * tone whose frequency and amplitude derive from `hash64(seed, seg)`.
    * A CONSTANT tone carries only one (energy, zcr) feature pair, so any
    * quantized fingerprint can tell at most #buckets² constant tones
    * apart — at corpus scale, coincidentally identical-bucket clips
    * would flood the near-dup join quadratically. Eight independent
    * segments give a (7 amp × 40 freq)^8 class space: no two seeds
    * collide at any realistic scale, while a noisy re-record of the SAME
    * seed still matches through the dual-grid fingerprint guarantee.
    */
  def wavMelody(seed: Long, rate: Int = 8000, samplesPerSeg: Int = 1000,
                noise: Double = 0.0): Array[Byte] = {
    val n = samplesPerSeg * 8
    val dataLen = n * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(rate).putInt(rate * 2)
      .putShort(2).putShort(16)
    bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
    var seg = 0
    while (seg < 8) {
      val h = Hashing.hash64(seed, seg.toLong)
      val freq = 300.0 + java.lang.Long.remainderUnsigned(h, 40L) * 80.0
      val amp = 0.2 + java.lang.Long.remainderUnsigned(Hashing.mix64(h), 7L) * 0.1
      var i = 0
      while (i < samplesPerSeg) {
        val t = seg * samplesPerSeg + i
        val v = amp * math.sin(2 * math.Pi * freq * i / rate) +
          noise * math.sin(13.7 * t)
        bb.putShort(math.round(math.max(-1.0, math.min(1.0, v)) * 32767).toShort)
        i += 1
      }
      seg += 1
    }
    bb.array()
  }

  /** Deterministic MJPEG-in-AVI clip: `nFrames` frames rendered from
    * (seed, frame index) and JPEG-encoded into `00dc` movi chunks — the
    * synthetic payload the video queries feed through the REAL
    * `Multimodal.extractAviFrames` + ImageIO path.
    */
  def aviClip(seed: Long, nFrames: Int): Array[Byte] = {
    val frames = (0 until nFrames).map { i =>
      val img = render(Hashing.hash64(seed, i.toLong), 0)
      val bi = new java.awt.image.BufferedImage(img.width, img.height,
        java.awt.image.BufferedImage.TYPE_3BYTE_BGR) // JPEG writer rejects alpha
      var y = 0
      while (y < img.height) {
        var x = 0
        while (x < img.width) {
          bi.setRGB(x, y, (img.r(x, y) << 16) | (img.g(x, y) << 8) | img.b(x, y))
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(bi, "jpg", bos)
      bos.toByteArray
    }
    val moviSize = 4 + frames.map(f => 8 + f.length + (f.length & 1)).sum
    val bb = java.nio.ByteBuffer.allocate(12 + 8 + moviSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(4 + 8 + moviSize)
      .put("AVI ".getBytes("US-ASCII"))
    bb.put("LIST".getBytes("US-ASCII")).putInt(moviSize)
      .put("movi".getBytes("US-ASCII"))
    frames.foreach { f =>
      bb.put("00dc".getBytes("US-ASCII")).putInt(f.length).put(f)
      if ((f.length & 1) == 1) bb.put(0.toByte)
    }
    bb.array()
  }
}

/** Scheme-dispatching default resolver. */
object DefaultMedia extends MediaResolver {
  def resolve(ref: String): Either[String, Raster] =
    if (ref == null) Left("null media_ref")
    else if (ref.startsWith("synth://")) SynthMedia.resolve(ref)
    else FileMedia.resolve(ref)
}

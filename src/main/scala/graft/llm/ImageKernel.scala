package graft.llm

import java.awt.image.BufferedImage
import java.io.ByteArrayInputStream

import javax.imageio.ImageIO

/** Real image decode/demux for the multimodal kernels: PNG/JPEG payloads
  * (sniffed by magic bytes) decode through the JDK's javax.imageio, and
  * multi-frame GIF containers demux frame-by-frame through the sequence
  * reader API; anything else returns None and the caller falls back to its
  * deterministic stub. Pure per-row byte work — safe inside executor-side
  * mapPartitions kernels.
  */
object ImageKernel {

  // javax.imageio defaults to DISK-backed stream caches: every
  // ImageIO.read/write on a byte stream creates, fills, and deletes a temp
  // file (measured ~5 ms per 36×32 PNG round trip — 82 s of an 84 s phash
  // pass at the 100×-scale rehearsal was this). Payloads here are in-memory
  // byte arrays, so force the memory-cached stream implementations; the
  // toggle is a JVM-wide static, applied when the first kernel classloads
  // on each executor.
  javax.imageio.ImageIO.setUseCache(false)

  def isPng(b: Array[Byte]): Boolean =
    b.length > 8 && (b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G'

  def isJpeg(b: Array[Byte]): Boolean =
    b.length > 3 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8 && (b(2) & 0xff) == 0xff

  def isGif(b: Array[Byte]): Boolean =
    b.length > 6 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8'

  def isImage(b: Array[Byte]): Boolean = isPng(b) || isJpeg(b) || isGif(b)

  def decode(b: Array[Byte]): Option[BufferedImage] =
    if (!isImage(b)) None
    else Option(ImageIO.read(new ByteArrayInputStream(b)))

  /** (width, height) when the payload is a decodable image. */
  def dims(b: Array[Byte]): Option[(Long, Long)] =
    decode(b).map(i => (i.getWidth.toLong, i.getHeight.toLong))

  /** 256-level grayscale palette: GIF is palette-indexed, so building frames
    * against this explicit IndexColorModel (instead of letting the writer
    * quantize an RGB image) makes the encode→demux round trip BIT-EXACT —
    * the property the frame-sample oracle depends on.
    */
  private val grayPalette: java.awt.image.IndexColorModel = {
    val ramp = Array.tabulate[Byte](256)(i => i.toByte)
    new java.awt.image.IndexColorModel(8, 256, ramp, ramp, ramp)
  }

  /** Solid-gray frame at exact palette index g. */
  def grayFrame(w: Int, h: Int, g: Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_INDEXED, grayPalette)
    img.getRaster.setSamples(0, 0, w, h, 0, Array.fill(w * h)(g))
    img
  }

  /** Encode frames as one animated-GIF container (pure JDK sequence writer).
    * GIF is a real container format (LZW-compressed, multi-image blocks) —
    * the fixture side of genuine demuxing, standing in for video where no
    * codec library ships in this environment.
    */
  def encodeGif(frames: Seq[BufferedImage]): Array[Byte] = {
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    frames.foreach(f => writer.writeToSequence(new javax.imageio.IIOImage(f, null, null), null))
    writer.endWriteSequence()
    ios.close()
    writer.dispose()
    bos.toByteArray
  }

  /** Demux a GIF container into its frames — a REAL frame walk via the
    * sequence reader (frame count comes from the container's image blocks,
    * not metadata guesswork). None for non-GIF payloads.
    */
  def gifFrames(b: Array[Byte]): Option[Vector[BufferedImage]] =
    if (!isGif(b)) None
    else {
      val reader = ImageIO.getImageReadersByFormatName("gif").next()
      val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(b))
      try {
        reader.setInput(iis, false)
        val n = reader.getNumImages(true)
        Some(Vector.tabulate(n)(i => reader.read(i)))
      } finally {
        reader.dispose()
        iis.close()
      }
    }

  /** Deterministic structured test frame for the perceptual-hash fixture:
    * gray(x,y) = seed + (a·x + b·y + (x·y)%97) % 200, plus a fixed
    * perturbation rectangle raised by `delta`. The (a,b) coefficients give
    * each group its own gradient STRUCTURE (dHash is invariant to the
    * constant `seed`, so brightness alone cannot distinguish groups), and
    * `delta` perturbs only a rectangle spanning a couple of downscale
    * cells, so same-structure variants land a small Hamming distance
    * apart — the near-duplicate geometry the phash operator must recover.
    */
  def gradientFrame(w: Int, h: Int, a: Int, b: Int, seed: Int, delta: Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_INDEXED, grayPalette)
    val samples = Array.tabulate(w * h) { idx =>
      val x = idx % w
      val y = idx / w
      val base = seed + (a * x + b * y + (x * y) % 97) % 200
      val inRect = x >= w / 3 && x < w / 3 + math.max(1, w / 9) &&
        y >= h / 4 && y < h / 4 + math.max(1, h / 8)
      math.min(255, base + (if (inRect) delta else 0))
    }
    img.getRaster.setSamples(0, 0, w, h, 0, samples)
    img
  }

  /** Single-frame PNG encode (lossless, so decode→hash is exact). */
  def encodePng(img: BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** 64-bit difference hash: area-average the integer luma onto a 9×8 grid,
    * bit = "left cell brighter than its right neighbour" (8 comparisons ×
    * 8 rows). The compare cross-multiplies sums by counts so it is exact
    * integer math — no float averages, bit-identical everywhere. Constant
    * brightness shifts cancel in the differences, which is the invariance
    * perceptual dedup needs (same image, different exposure).
    */
  def dHash(img: BufferedImage): Long = {
    val (sums, cnts) = lumaGrid(img)
    foldDHash(sums, cnts)
  }

  /** The area-average accumulation step of [[dHash]], exposed separately
    * so the 9×8 (sum, count) grids can be STAGED and the final bit-fold
    * recomputed in DuckDB SQL — the oracle then
    * cross-checks the kernel's last arithmetic mile instead of trusting
    * the finished hash. Row-major flattening: index cy * 9 + cx.
    */
  def lumaGrid(img: BufferedImage): (Array[Long], Array[Long]) = {
    val gw = 9
    val gh = 8
    val w = img.getWidth
    val h = img.getHeight
    val sums = Array.ofDim[Long](gh, gw)
    val cnts = Array.ofDim[Long](gh, gw)
    // single-band images (TYPE_BYTE_GRAY / indexed) are read as RAW raster
    // samples: getRGB would run them through a linear-gray → sRGB gamma
    // conversion, which is monotone per pixel but NOT average-preserving —
    // it silently broke the encode→decode hash equality this kernel
    // promises (a grayscale PNG decodes as TYPE_BYTE_GRAY)
    val raster = img.getRaster
    val singleBand = raster.getNumBands == 1
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val l =
          if (singleBand) raster.getSample(x, y, 0)
          else {
            val rgb = img.getRGB(x, y)
            (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) + 114 * (rgb & 0xff)) / 1000
          }
        val cx = x * gw / w
        val cy = y * gh / h
        sums(cy)(cx) += l
        cnts(cy)(cx) += 1
        x += 1
      }
      y += 1
    }
    (sums.flatten, cnts.flatten)
  }

  /** The bit-fold step of [[dHash]] over row-major 9×8 grids: bit k
    * (k = cy·8 + cx, MSB-first) = "cell (cy,cx) brighter than (cy,cx+1)",
    * compared by exact integer cross-multiplication — no float averages.
    * Mirrored verbatim by the multimodal_phash_neardup oracle's SQL fold.
    */
  def foldDHash(sums: Array[Long], cnts: Array[Long]): Long = {
    var bits = 0L
    var cy = 0
    while (cy < 8) {
      var cx = 0
      while (cx < 8) {
        val lhs = sums(cy * 9 + cx) * cnts(cy * 9 + cx + 1)
        val rhs = sums(cy * 9 + cx + 1) * cnts(cy * 9 + cx)
        bits = (bits << 1) | (if (lhs > rhs) 1L else 0L)
        cx += 1
      }
      cy += 1
    }
    bits
  }

  /** Integer-luminance histogram over all pixels: l = (299r+587g+114b)/1000,
    * bucket = l * buckets / 256. The real analog of the stub token-initial
    * histogram — fixed-length numeric features from a binary payload.
    */
  def lumaHistogram(img: BufferedImage, buckets: Int = 8): Array[Long] = {
    val hist = new Array[Long](buckets)
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val rgb = img.getRGB(x, y)
        val l = (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) + 114 * (rgb & 0xff)) / 1000
        hist(l * buckets / 256) += 1
        x += 1
      }
      y += 1
    }
    hist
  }
}

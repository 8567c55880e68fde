package graft.llm

import org.apache.spark.sql.functions.udf

/** Reference implementations and fixtures the llm specs compare the
  * operators against: the UDF BPE encoder the native `BpeEncodeExpr` must
  * match, and a motion-JPEG AVI generator for the container walk.
  */
object LlmFixtures {

  /** Tokenize with a learned rule sequence — the standard BPE encode
    * (the min-rank loop every production tokenizer uses): repeatedly merge
    * the LOWEST-rank adjacent pair present in the word until none remains.
    * Per-word cost is proportional to the word, not the vocabulary — a
    * 32k-rule vocabulary must not mean 32k array scans per word on a
    * corpus-scale map path. New pairs created by a merge contain the
    * merged symbol, so in the common case (merged strings unambiguous
    * across rules) this reproduces an in-order rule replay exactly; where
    * two rules yield the same merged string the min-rank loop is the
    * canonical semantics. Pure function of (text, rules); exposed as a
    * map-side UDF column.
    */
  def tokenize(merges: Seq[(String, String)]): org.apache.spark.sql.expressions.UserDefinedFunction = {
    // first occurrence wins on a duplicated (left, right) rule — training
    // can never emit one (a merged pair's count drops to zero), but a
    // hand-supplied table can, and the native BpeEncoder resolves to the
    // FIRST rank; plain .toMap would keep the LAST and silently diverge
    val rank: Map[(String, String), Int] = merges.zipWithIndex.reverse.toMap
    udf { (text: String) =>
      if (text == null) Seq.empty[String]
      else text.split(" ").filter(_.nonEmpty).toSeq.flatMap { w =>
        var symbols: Seq[String] = w.split("").toSeq
        var done = false
        while (!done && symbols.length >= 2) {
          var bestRank = Int.MaxValue
          var i = 0
          while (i < symbols.length - 1) {
            val p = rank.getOrElse((symbols(i), symbols(i + 1)), Int.MaxValue)
            if (p < bestRank) bestRank = p
            i += 1
          }
          if (bestRank == Int.MaxValue) done = true
          else {
            val (l, r) = merges(bestRank)
            symbols = Bpe.mergeOnce(symbols, l, r)
          }
        }
        symbols
      }
    }
  }

  /** A REAL motion-JPEG AVI: the same logical frames as
    * [[Multimodal.syntheticAviDib]], each JPEG-encoded through
    * `javax.imageio` — the genuine lossy codec path (frames decode to
    * APPROXIMATELY the [[Multimodal.aviPx]] values; exact goldens come from
    * committed fixtures, not arithmetic).
    */
  def syntheticAviMjpeg(docId: Long): Array[Byte] = {
    val (w, h, n) = Multimodal.aviDims(docId)
    val frames = (0 until n).map { f =>
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var i = 0
      while (i < w * h) {
        img.setRGB(i % w, i / w, (Multimodal.aviPx(docId, f, i, 0) << 16) |
          (Multimodal.aviPx(docId, f, i, 1) << 8) | Multimodal.aviPx(docId, f, i, 2))
        i += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    // 'MJPG' biCompression fourcc, little-endian in the struct field
    val mjpg = ('M'.toInt) | ('J'.toInt << 8) | ('P'.toInt << 16) | ('G'.toInt << 24)
    Multimodal.packAvi("MJPG", mjpg, w, h, frames)
  }
}

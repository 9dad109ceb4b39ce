package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.{Jpeg, Multimodal, Png}

/** Baseline JPEG codec contract. Golden vectors are HAND-BUILT marker
  * streams with all-ones quantization tables and minimal one-or-two-
  * code Huffman tables, restricted to DC-only blocks — there the whole
  * pipeline (huffman decode -> RECEIVE/EXTEND -> dequantize -> IDCT ->
  * level shift) collapses to the hand-computable flat value
  * `round(DC/8) + 128`, so every expected pixel in this file was
  * worked out on paper from T.81. Lossy-path quality is pinned by
  * encoder roundtrips; structure robustness by mutated streams. */
class JpegSpec extends AnyFunSuite {

  // ---- hand-rolled marker-stream builders ----

  private def seg(marker: Int, body: Int*): Array[Byte] = {
    val len = body.length + 2
    (Seq(0xff, marker, (len >> 8) & 0xff, len & 0xff) ++ body)
      .map(_.toByte).toArray
  }

  /** DQT with every entry 1 (identity quantization) */
  private def dqtOnes(tq: Int): Array[Byte] =
    seg(0xdb, (0 +: Seq.fill(64)(1)).updated(0, tq): _*)

  /** DHT from (class, id, counts-by-length, symbols) */
  private def dht(tc: Int, th: Int, counts: Seq[Int],
      syms: Seq[Int]): Array[Byte] = {
    require(counts.length == 16 && counts.sum == syms.length)
    seg(0xc4, ((tc << 4) | th) +: (counts ++ syms): _*)
  }

  /** SOF0 for components given as (id, hv, tq) */
  private def sof0(w: Int, h: Int, comps: (Int, Int, Int)*): Array[Byte] =
    seg(0xc0, Seq(8, (h >> 8) & 0xff, h & 0xff, (w >> 8) & 0xff, w & 0xff,
      comps.length) ++ comps.flatMap(c => Seq(c._1, c._2, c._3)): _*)

  /** SOS for components given as (id, dcTable<<4|acTable) */
  private def sos(comps: (Int, Int)*): Array[Byte] =
    seg(0xda, (comps.length +: comps.flatMap(c => Seq(c._1, c._2)))
      ++ Seq(0, 63, 0): _*)

  /** pack a bit string ("0100...", spaces ignored) into bytes, padding
    * the tail with 1s per the spec; no 0xFF bytes are produced by the
    * goldens so no stuffing is needed here */
  private def bits(s: String): Array[Byte] = {
    val b = s.filterNot(_ == ' ')
    b.grouped(8).map { g =>
      Integer.parseInt(g.padTo(8, '1'), 2).toByte
    }.toArray
  }

  private val soi = Array(0xff, 0xd8).map(_.toByte)
  private val eoi = Array(0xff, 0xd9).map(_.toByte)

  // one 1-bit DC code '0' -> symbol `size`; one 1-bit AC code '0' -> EOB
  private def dcTable1(th: Int, size: Int) =
    dht(0, th, 1 +: Seq.fill(15)(0), Seq(size))
  private def acEob(th: Int) = dht(1, th, 1 +: Seq.fill(15)(0), Seq(0x00))
  // two 2-bit DC codes: '00' -> size 5, '01' -> size 4
  private def dcTable54(th: Int) =
    dht(0, th, Seq(0, 2) ++ Seq.fill(14)(0), Seq(5, 4))

  test("golden: grayscale DC-only block decodes to the flat value") {
    // DC diff 16, q=1: IDCT of a lone DC coefficient is DC/8 = 2.0
    // everywhere; +128 level shift -> every pixel 130 = 0x828282
    val jpg = soi ++ dqtOnes(0) ++ sof0(8, 8, (1, 0x11, 0)) ++
      dcTable1(0, 5) ++ acEob(0) ++ sos((1, 0x00)) ++
      bits("0 10000 0") ++ eoi
    val img = Jpeg.decode(jpg)
    assert(img.width == 8 && img.height == 8)
    assert(img.pixels.forall(_ == 0x828282))
  }

  test("golden: negative DC diff (EXTEND path) and zero-size DC") {
    // diff -8: size 4, magnitude bits = -8 + 2^4 - 1 = 7 = '0111'
    // -> DC -8, flat round(-1)+128 = 127
    val jpg = soi ++ dqtOnes(0) ++ sof0(8, 8, (1, 0x11, 0)) ++
      dcTable1(0, 4) ++ acEob(0) ++ sos((1, 0x00)) ++
      bits("0 0111 0") ++ eoi
    assert(Jpeg.decode(jpg).pixels.forall(_ == 0x7f7f7f))
  }

  test("golden: restart interval resets the DC predictor") {
    // 16x8 gray = two MCUs, DRI=1: RST0 between them; the second
    // block's diff 8 lands on a RESET predictor -> 8, not 24
    val dri = seg(0xdd, 0, 1)
    val jpg = soi ++ dqtOnes(0) ++ sof0(16, 8, (1, 0x11, 0)) ++ dri ++
      dcTable54(0) ++ acEob(0) ++ sos((1, 0x00)) ++
      bits("00 10000 0") ++                // MCU0: diff 16 (8 bits, aligned)
      Array(0xff, 0xd0).map(_.toByte) ++   // RST0
      bits("01 1000 0") ++                 // MCU1: diff 8
      eoi
    val img = Jpeg.decode(jpg)
    assert(img.width == 16 && img.height == 8)
    val left = (0 until 8).flatMap(y => (0 until 8).map(x =>
      img.pixels(y * 16 + x))).toSet
    val right = (0 until 8).flatMap(y => (8 until 16).map(x =>
      img.pixels(y * 16 + x))).toSet
    assert(left == Set(0x828282), "left MCU: DC 16 -> flat 130")
    assert(right == Set(0x818181), "right MCU: reset pred + 8 -> flat 129")
  }

  test("golden: 4:4:4 color DC-only converts YCbCr by the book") {
    // Y=130 (diff 16), Cb=127 (diff -8), Cr=129 (diff 8), q=1:
    // R = 130 + 1.402*1            = 131.402 -> 131
    // G = 130 + 0.344136 - 0.714136 = 129.63  -> 130
    // B = 130 - 1.772               = 128.228 -> 128
    val jpg = soi ++ dqtOnes(0) ++ dqtOnes(1) ++
      sof0(8, 8, (1, 0x11, 0), (2, 0x11, 1), (3, 0x11, 1)) ++
      dcTable1(0, 5) ++ acEob(0) ++ dcTable1(1, 4) ++ acEob(1) ++
      sos((1, 0x00), (2, 0x11), (3, 0x11)) ++
      bits("0 10000 0" + " 0 0111 0" + " 0 1000 0") ++ eoi
    assert(Jpeg.decode(jpg).pixels.forall(_ == 0x838280))
  }

  test("golden: 4:2:0 MCU layout (4 Y blocks + Cb + Cr, per-component pred)") {
    // 16x16, Y blocks TL,TR,BL,BR with diffs 16,8,-8,-8 -> running
    // preds 16,24,16,8 -> flat 130,131,130,129; chroma diffs 0 (size-0
    // DC symbol, no magnitude bits) -> 128 -> gray, R=G=B=Y
    val jpg = soi ++ dqtOnes(0) ++ dqtOnes(1) ++
      sof0(16, 16, (1, 0x22, 0), (2, 0x11, 1), (3, 0x11, 1)) ++
      dcTable54(0) ++ acEob(0) ++ dcTable1(1, 0) ++ acEob(1) ++
      sos((1, 0x00), (2, 0x11), (3, 0x11)) ++
      bits("00 10000 0" + " 01 1000 0" + " 01 0111 0" + " 01 0111 0" +
        " 0 0" + " 0 0") ++ eoi
    val img = Jpeg.decode(jpg)
    assert(img.width == 16 && img.height == 16)
    def quad(x0: Int, y0: Int) = (0 until 8).flatMap(dy =>
      (0 until 8).map(dx => img.pixels((y0 + dy) * 16 + (x0 + dx)))).toSet
    assert(quad(0, 0) == Set(0x828282), "TL: 130")
    assert(quad(8, 0) == Set(0x838383), "TR: 131")
    assert(quad(0, 8) == Set(0x828282), "BL: 130")
    assert(quad(8, 8) == Set(0x818181), "BR: 129")
  }

  test("golden: 4:2:2 MCU layout (2 Y blocks + Cb + Cr)") {
    // 16x8, Y sampled 2x1: MCU = Y-left, Y-right, Cb, Cr; Y diffs
    // 16 then 8 accumulate to preds 16, 24 -> flat 130 | 131; chroma
    // size-0 diffs keep 128 -> gray, so R=G=B=Y per half
    val jpg = soi ++ dqtOnes(0) ++ dqtOnes(1) ++
      sof0(16, 8, (1, 0x21, 0), (2, 0x11, 1), (3, 0x11, 1)) ++
      dcTable54(0) ++ acEob(0) ++ dcTable1(1, 0) ++ acEob(1) ++
      sos((1, 0x00), (2, 0x11), (3, 0x11)) ++
      bits("00 10000 0" + " 01 1000 0" + " 0 0" + " 0 0") ++ eoi
    val img = Jpeg.decode(jpg)
    assert(img.width == 16 && img.height == 8)
    val left = (0 until 8).flatMap(y => (0 until 8).map(x =>
      img.pixels(y * 16 + x))).toSet
    val right = (0 until 8).flatMap(y => (8 until 16).map(x =>
      img.pixels(y * 16 + x))).toSet
    assert(left == Set(0x828282) && right == Set(0x838383))
  }

  test("golden: APPn/COM metadata segments are skipped") {
    val app0 = seg(0xe0, 'J', 'F', 'I', 'F', 0, 1, 1, 0, 0, 1, 0, 1, 0, 0)
    val com = seg(0xfe, "hand-built".getBytes("US-ASCII").map(_ & 0xff)
      .toSeq: _*)
    val jpg = soi ++ app0 ++ com ++ dqtOnes(0) ++ sof0(8, 8, (1, 0x11, 0)) ++
      dcTable1(0, 5) ++ acEob(0) ++ sos((1, 0x00)) ++
      bits("0 10000 0") ++ eoi
    assert(Jpeg.decode(jpg).pixels.forall(_ == 0x828282))
  }

  // ---- robustness ----

  test("unsupported shapes are refused loudly") {
    val base = soi ++ dqtOnes(0)
    // progressive
    val sof2 = seg(0xc2, 8, 0, 8, 0, 8, 1, 1, 0x11, 0)
    assert(Jpeg.tryDecode(base ++ sof2 ++ dcTable1(0, 5) ++ acEob(0) ++
      sos((1, 0x00)) ++ bits("0 10000 0") ++ eoi).isEmpty)
    // truncated entropy data
    assert(Jpeg.tryDecode(soi ++ dqtOnes(0) ++ sof0(8, 8, (1, 0x11, 0)) ++
      dcTable1(0, 5) ++ acEob(0) ++ sos((1, 0x00))).isEmpty)
    // SOS before SOF
    assert(Jpeg.tryDecode(soi ++ dqtOnes(0) ++ dcTable1(0, 5) ++ acEob(0) ++
      sos((1, 0x00)) ++ bits("0") ++ eoi).isEmpty)
    // missing quant table
    assert(Jpeg.tryDecode(soi ++ sof0(8, 8, (1, 0x11, 0)) ++
      dcTable1(0, 5) ++ acEob(0) ++ sos((1, 0x00)) ++
      bits("0 10000 0") ++ eoi).isEmpty)
    // not a JPEG at all
    assert(Jpeg.tryDecode("plain text".getBytes("UTF-8")).isEmpty)
  }

  test("hostile headers stay inside tryDecode's contract (no crash class)") {
    // SOF0 with declared length 2 and nothing after it: body reads
    // must be bounds-checked, not AIOOBE
    assert(Jpeg.tryDecode(Array(0xff, 0xd8, 0xff, 0xc0, 0x00, 0x02)
      .map(_.toByte)).isEmpty)
    // quant-table id 7 in SOF: index must be validated, not AIOOBE
    assert(Jpeg.tryDecode(soi ++ dqtOnes(0) ++ sof0(8, 8, (1, 0x11, 7)) ++
      dcTable1(0, 5) ++ acEob(0) ++ sos((1, 0x00)) ++
      bits("0 10000 0") ++ eoi).isEmpty)
    // huffman-table id 9 in SOS: same
    assert(Jpeg.tryDecode(soi ++ dqtOnes(0) ++ sof0(8, 8, (1, 0x11, 0)) ++
      dcTable1(0, 5) ++ acEob(0) ++ sos((1, 0x99)) ++
      bits("0 10000 0") ++ eoi).isEmpty)
    // grayscale with sampling byte 0x00: no divide-by-zero — the
    // single-component scan is non-interleaved, factors ignored
    val zeroHv = soi ++ dqtOnes(0) ++ sof0(8, 8, (1, 0x00, 0)) ++
      dcTable1(0, 5) ++ acEob(0) ++ sos((1, 0x00)) ++
      bits("0 10000 0") ++ eoi
    assert(Jpeg.decode(zeroHv).pixels.forall(_ == 0x828282))
    // grayscale with declared 2x2 factors decodes the same
    // non-interleaved stream (T.81 A.2.3)
    val hv22 = soi ++ dqtOnes(0) ++ sof0(8, 8, (1, 0x22, 0)) ++
      dcTable1(0, 5) ++ acEob(0) ++ sos((1, 0x00)) ++
      bits("0 10000 0") ++ eoi
    assert(Jpeg.decode(hv22).pixels.forall(_ == 0x828282))
    // 25-byte header claiming 65535x65535: area cap, not an OOM
    assert(Jpeg.tryDecode(soi ++ dqtOnes(0) ++
      sof0(65535, 65535, (1, 0x11, 0)) ++ dcTable1(0, 5) ++ acEob(0) ++
      sos((1, 0x00)) ++ bits("0") ++ eoi).isEmpty)
    // 8192x8192 3-component squeaks under the PIXEL cap but would
    // allocate 4x that in plane+output ints — the TOTAL-allocation
    // cap must refuse it before any multi-hundred-MB new Array
    assert(Jpeg.tryDecode(soi ++ dqtOnes(0) ++ dqtOnes(1) ++
      sof0(8192, 8192, (1, 0x11, 0), (2, 0x11, 1), (3, 0x11, 1)) ++
      dcTable1(0, 5) ++ acEob(0) ++ dcTable1(1, 0) ++ acEob(1) ++
      sos((1, 0x00), (2, 0x11), (3, 0x11)) ++ bits("0") ++ eoi).isEmpty)
  }

  test("fill bytes before a restart marker are tolerated (B.1.1.2)") {
    val dri = seg(0xdd, 0, 1)
    val jpg = soi ++ dqtOnes(0) ++ sof0(16, 8, (1, 0x11, 0)) ++ dri ++
      dcTable54(0) ++ acEob(0) ++ sos((1, 0x00)) ++
      bits("00 10000 0") ++
      Array(0xff, 0xff, 0xd0).map(_.toByte) ++ // one FF fill, then RST0
      bits("01 1000 0") ++ eoi
    val img = Jpeg.decode(jpg)
    assert(img.pixels(0) == 0x828282 && img.pixels(8) == 0x818181)
  }

  test("a long spec-legal FF fill run before RST is tolerated (B.1.1.2)") {
    // B.1.1.2 puts no bound on fill bytes; 200 of them exceeds the old
    // 64-iteration guard and must still decode
    val dri = seg(0xdd, 0, 1)
    val jpg = soi ++ dqtOnes(0) ++ sof0(16, 8, (1, 0x11, 0)) ++ dri ++
      dcTable54(0) ++ acEob(0) ++ sos((1, 0x00)) ++
      bits("00 10000 0") ++
      Array.fill(200)(0xff.toByte) ++ Array(0xff, 0xd0).map(_.toByte) ++
      bits("01 1000 0") ++ eoi
    val img = Jpeg.decode(jpg)
    assert(img.pixels(0) == 0x828282 && img.pixels(8) == 0x818181)
    // and a run that hits end-of-input without a marker still fails loudly
    val runaway = soi ++ dqtOnes(0) ++ sof0(16, 8, (1, 0x11, 0)) ++ dri ++
      dcTable54(0) ++ acEob(0) ++ sos((1, 0x00)) ++
      bits("00 10000 0") ++ Array.fill(50)(0xff.toByte)
    assert(Jpeg.tryDecode(runaway).isEmpty)
  }

  // ---- encoder ----

  test("encode/decode roundtrip tracks the source (lossy, bounded)") {
    val rnd = new scala.util.Random(81)
    // smooth gradient + mild noise: the content JPEG is built for
    val (w, h) = (48, 32)
    val px = Array.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      val r = math.min(255, 4 * x + rnd.nextInt(8))
      val g = math.min(255, 6 * y + rnd.nextInt(8))
      val b = 128
      (r << 16) | (g << 8) | b
    }
    val jpg = Jpeg.encode(w, h, px)
    val dec = Jpeg.decode(jpg)
    assert(dec.width == w && dec.height == h)
    var se = 0.0
    px.indices.foreach { i =>
      for (shift <- Seq(16, 8, 0)) {
        val d = ((px(i) >> shift) & 0xff) - ((dec.pixels(i) >> shift) & 0xff)
        se += d.toDouble * d
      }
    }
    val mse = se / (px.length * 3)
    val psnr = 10 * math.log10(255.0 * 255.0 / mse)
    assert(psnr > 30, f"roundtrip PSNR $psnr%.1f dB too low")
  }

  test("encode is deterministic and compresses; flat image is exact") {
    val px = Array.fill(64 * 64)(0x827f81) // near-gray flat
    val e1 = Jpeg.encode(64, 64, px)
    assert(e1.toSeq == Jpeg.encode(64, 64, px).toSeq)
    assert(e1.length < 64 * 64 * 3 / 10,
      s"flat image should compress >10x, got ${e1.length} bytes")
    assert(Jpeg.looksLike(e1))
    val dec = Jpeg.decode(e1)
    // flat blocks are DC-only: quantization of a constant is near-exact
    val errs = dec.pixels.map { p =>
      Seq(16, 8, 0).map(s => math.abs(((p >> s) & 0xff) -
        ((0x827f81 >> s) & 0xff))).max
    }
    assert(errs.max <= 2, s"flat-image max channel error ${errs.max}")
  }

  test("byte stuffing engages and survives the roundtrip") {
    // hunt a seed whose encoded stream contains a stuffed FF00 pair —
    // proves the writer stuffs and the reader unstuffs on real data
    val rnd = new scala.util.Random(7)
    val found = (0 until 20).exists { _ =>
      val px = Array.fill(16 * 16)(rnd.nextInt(1 << 24))
      val jpg = Jpeg.encode(16, 16, px)
      val stuffed = jpg.sliding(2).exists(p =>
        (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0x00)
      stuffed && Jpeg.tryDecode(jpg).isDefined
    }
    assert(found, "no stuffed byte produced in 20 random 16x16 images")
  }

  test("non-multiple-of-8 dimensions roundtrip (edge replication pad)") {
    val (w, h) = (13, 5)
    val px = Array.tabulate(w * h)(i => ((i * 37) % 200 + 20) * 0x010101)
    val dec = Jpeg.decode(Jpeg.encode(w, h, px))
    assert(dec.width == w && dec.height == h)
    // gray input stays near-gray through YCbCr and back
    dec.pixels.foreach { p =>
      val r = (p >> 16) & 0xff; val g = (p >> 8) & 0xff; val b = p & 0xff
      assert(math.abs(r - g) <= 4 && math.abs(g - b) <= 4)
    }
  }

  // ---- Multimodal seam ----

  test("Multimodal.decode dispatches JPEG; corrupt falls back to opaque") {
    val px = Array.fill(8 * 8)(0x828282)
    val jpg = Jpeg.encode(8, 8, px)
    val feats = Multimodal.decode(jpg)
    assert(feats(0) == 8f && feats(1) == 8f)
    val bad = jpg.take(6) // SOI + mangled tail
    assert(Multimodal.decode(bad).toSeq ==
      Multimodal.opaqueFeatures(bad).toSeq)
  }

  test("resizePayloads keeps JPEG assets JPEG") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.Row
    val px = Array.tabulate(16 * 16)(i => (i % 2) * 0x808080 + 0x202020)
    val rows = Seq(
      Row(1L, "image", Jpeg.encode(16, 16, px), Row(16, 16, 0, 0)),
      Row(2L, "image", Png.encode(16, 16, px), Row(16, 16, 0, 0)))
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), Multimodal.mediaSchema)
    val out = Multimodal.resizePayloads(media, 8, 8)
      .collect().map(r => r.getLong(0) -> r).toMap
    val jpgOut = out(1L).getAs[Array[Byte]]("payload")
    assert(Jpeg.looksLike(jpgOut) && !Png.looksLike(jpgOut))
    val dec = Jpeg.decode(jpgOut)
    assert(dec.width == 8 && dec.height == 8)
    assert(out(1L).getAs[Row]("meta").getInt(0) == 8)
    assert(Png.looksLike(out(2L).getAs[Array[Byte]]("payload")))
  }
}

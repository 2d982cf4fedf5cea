package graft.core

import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite

/** Byte-format guard for every serialized `graft.core` sketch and filter.
  *
  * Stored sketch columns are re-read and re-merged across jobs, and the
  * Spark aggregates ship these bytes through the shuffle, so a change to a
  * sketch's internals must leave `serialize()` byte-identical. Each constant
  * below is the SHA-256 of `serialize()` after a fixed seeded stream, or
  * after a 7-way uneven merge whose every partial and intermediate result
  * goes through a serialize/deserialize round trip. The constants were
  * recorded before the sketches' storage and serde were rewritten for speed
  * and must not be edited to make a change pass.
  */
class SketchFormatSpec extends AnyFunSuite {
  import SketchFormatSpec._

  private val Sizes = Seq(0, 1, 100, 10000, 300000)

  /** Stream item i of `seed`: a uniform 64-bit value. */
  private def item(seed: Long, i: Int): Long = SplitMix64.mix(seed + i * 0x9E3779B97F4A7C15L)
  private def real(x: Long): Double = (x >>> 11).toDouble / (1L << 53).toDouble * 1000.0
  private def key(x: Long): Long = (x >>> 1) % 50000
  // skewed token stream: trailing zeros give a geometric head, the high bits a long tail
  private def token(x: Long): String = s"t${java.lang.Long.numberOfTrailingZeros(x)}-${(x >>> 40) % 300}"

  private final case class Codec[S](name: String, fresh: () => S, update: (S, Long) => Unit,
                                    merge: (S, S) => S, ser: S => Array[Byte], de: Array[Byte] => S) {
    def build(seed: Long, from: Int, until: Int): S = {
      val s = fresh()
      var i = from
      while (i < until) { update(s, item(seed, i)); i += 1 }
      s
    }
    def roundTrip(s: S): S = de(ser(s))
  }

  private val codecs: Seq[Codec[_]] = Seq(
    Codec[ReqSketch]("req", () => ReqSketch(), (s, x) => s.update(real(x)),
      _.merge(_), _.serialize(), ReqSketch.deserialize),
    Codec[KllSketch]("kll", () => KllSketch(), (s, x) => s.update(real(x)),
      _.merge(_), _.serialize(), KllSketch.deserialize),
    Codec[HllSketch]("hll", () => HllSketch(), (s, x) => s.update(key(x)),
      _.merge(_), _.serialize(), HllSketch.deserialize),
    Codec[ThetaSketch]("theta", () => ThetaSketch(), (s, x) => s.update(key(x)),
      _.merge(_), _.serialize(), ThetaSketch.deserialize),
    Codec[CmsSketch]("cms", () => CmsSketch(), (s, x) => s.update(token(x)),
      _.merge(_), _.serialize(), CmsSketch.deserialize),
    Codec[BloomFilter]("bloom", () => BloomFilter.withConfig(1L << 17, 5), (s, x) => s.update(key(x)),
      _.merge(_), _.serialize(), BloomFilter.deserialize),
    Codec[CountingBloomFilter]("cbloom", () => CountingBloomFilter.withConfig(1L << 16, 4),
      (s, x) => s.update(key(x)), _.merge(_), _.serialize(), CountingBloomFilter.deserialize),
    Codec[FreqSketch]("freq", () => FreqSketch(), (s, x) => s.update(token(x)),
      _.merge(_), _.serialize(), FreqSketch.deserialize)
  )

  /** Partition sizes of the merge stream: an empty and a one-item partial
    * next to a dominant one, so merge direction and level shapes differ. */
  private val MergeParts = Seq(0, 1, 37, 1000, 5003, 20000, 73959)

  private def sha256(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes).map(b => f"${b & 0xff}%02x").mkString

  private def digests[S](c: Codec[S]): Seq[(String, String)] = {
    val streams = Sizes.map(n => s"${c.name}/$n" -> sha256(c.ser(c.build(StreamSeed, 0, n))))
    val cuts = MergeParts.scanLeft(0)(_ + _)
    val partials = cuts.zip(cuts.tail).map { case (a, b) => c.roundTrip(c.build(MergeSeed, a, b)) }
    // fold from the largest partial down so small partials merge into big ones
    val merged = partials.reverse.reduceLeft((acc, p) => c.roundTrip(c.merge(acc, c.roundTrip(p))))
    streams :+ (s"${c.name}/merge7" -> sha256(c.ser(merged)))
  }

  for (c <- codecs) test(s"${c.name}: serialize() bytes match the recorded format") {
    val got = digests(c)
    val wrong = got.filter { case (k, v) => !Golden.get(k).contains(v) }
    assert(wrong.isEmpty, wrong.map { case (k, v) => s"\"$k\" -> \"$v\"" }.mkString("\n", ",\n", "\n"))
  }
}

object SketchFormatSpec {
  private val StreamSeed = 0x5EEDF00DL
  private val MergeSeed = 0xC0FFEE11L

  private val Golden: Map[String, String] = Map(
    "req/0" -> "9cc2c031e6a15edcd0303cf5d2a057d214a38946d9d79f695bd2b6f55346fc38",
    "req/1" -> "a3acc327121653f65e2858b8c265bc1b0175721eece6c371240491f31b75787a",
    "req/100" -> "d3d61e49389118d140c9117fb26cbe1da8c2fa76a808a2114e6c46a0061e4128",
    "req/10000" -> "9bf90056daaa2311b96ef61877efdc47256ebc1d290721cb701ae92f64af7f1d",
    "req/300000" -> "242ebc6ada5066e9c296e6f9e35df38c0767b0a9e7aae667e5769193a67dc2fa",
    "req/merge7" -> "0a7570989cac304d45a885ddc5de7fac3e797e974c215d070fe708ee7a999e9c",
    "kll/0" -> "b4eac729c803ce074c1e17b6013cfcbce02b809e82c9c8f5982fc48db44a9541",
    "kll/1" -> "23bae01528eb004f65018e6ec08c8376471f25a4d4de23444aa67eb27187536f",
    "kll/100" -> "5ea8e1b87a36d0d85f2c4092f074139560465d16df4e7ab726dbfad322b0bd5c",
    "kll/10000" -> "be81cc55f4b72e94259982056cb40a45cb8f9eba8660d2b6b694ab90d678b1bf",
    "kll/300000" -> "4139fa7b9e50e2464f940b07554b4701deb736aba7dbc4383d6897a8ef993781",
    "kll/merge7" -> "511dbdbdd38bb7c38d607bfed2fac4b6c726ddd6d83fff1c449b77da611c8276",
    "hll/0" -> "ea0e1ee660be48fefe6b918a24272ebf3da044ddb8f5446e9646c894b81d7c06",
    "hll/1" -> "58161ac42fd8123676e1ae80ed65df2f99a576ef5a807918dd7c7ecd8f1a586b",
    "hll/100" -> "e0cf558180cc01524c078866609266690a8fc7cc1ef96e9c609f6f8721a14fb5",
    "hll/10000" -> "a22841d03404b2212d695818ba0089d2e5392ca66929cfd4067dd6decc331178",
    "hll/300000" -> "778f219e8d7cb5e7d1bc6c4386d36b972328c0956518e8cf7acdc1fe2816d165",
    "hll/merge7" -> "631fa77a90c32d56a8662498f8629e38e600316523c2702c6cfe4733109bee75",
    "theta/0" -> "2467607d5dcfcedace9dfe359d633506729c4c08c622d42be57e331b85b32202",
    "theta/1" -> "ee533cdd5d374cc61e0e348d61a49f9d6db55343bc3c05a3d7acae70f5e4ab72",
    "theta/100" -> "c50e2eb98ab35129410a436957036d9bc3b11acbd25a1ba5d21d7c953b831a95",
    "theta/10000" -> "0751c7b779e409212c2b4f03d3d76bb6b1661ae0377a713dee4f21bc0f91f256",
    "theta/300000" -> "5845f24bd6702afbf52f1c60347c703e9ce1b5511a469825b3f5c740d2049f5d",
    "theta/merge7" -> "b45fed1227ef7caf394a2b74e03877a9ff6304d014e902becdc3265a1f35508e",
    "cms/0" -> "3862720e45b3e5ffa67b36bb09fbfc140d8db1db09b1b199b1ba8a3bab7f02ad",
    "cms/1" -> "28260258f2b8c45052f9295d9908cac3ff5fc9da6057c085c339c29c9fe14fb4",
    "cms/100" -> "846ea3852846447807db30ffec88dfe3458d326fe043428c71c6e973b7736554",
    "cms/10000" -> "0a364cc21e6db4252c8383d0b3e590a8c8a70e124437de46ae6883186404d97f",
    "cms/300000" -> "58471267ba65765a58693efacdfc573b57073e36b0cb7a11c0725e8df4493243",
    "cms/merge7" -> "b17bf344b11b3eb49555cbbe6b19dc351ac454dfb8a99d128080b784fe308fcd",
    "bloom/0" -> "551e726a567612d6b4880ca28c27dffbbd7460c8e339c272da5a8c4fc70f0c93",
    "bloom/1" -> "8046ac5298736b5b38911e1e32b9e39a568ed44b3766ccfba79ac57f186d78b1",
    "bloom/100" -> "ee1a15e7e9ba7fdf3923851a0728eed46e235a89647f3a08774b6053801f5354",
    "bloom/10000" -> "8bd4c882245407337949ae6ce9bf5d62d2b4468037ac864b7678e145200da81b",
    "bloom/300000" -> "7ef27af719f0cf704ba3cac28a754f92ea0ee1d8262a132bf1ad625f73e5f1d6",
    "bloom/merge7" -> "380b3e33a8239174aea843132258294a290f27749fc2da618784452cb2a39327",
    "cbloom/0" -> "476d1abf7026d0c8fd473aa47dd69fa75200559fe0671af76ce8ae97441d8d54",
    "cbloom/1" -> "e7e1de2483e4a087bd63d67c4611013422685e9ed8bd8726883534c0d9c0005c",
    "cbloom/100" -> "76e2c13c82f1070121fa9e805532f1ad67eb2f30782bfa87929144a4fcd7306c",
    "cbloom/10000" -> "c3909e175c7e70d6f9435884773fd5f5455201440a8a9befab5319cac2e691d0",
    "cbloom/300000" -> "8e4bed9f35f1cb91cf3380fde8492e57ee48d0edac86a008f158c9c4d0af0922",
    "cbloom/merge7" -> "2e66fbbba7700b2d0023e9692ecb05e9da1d07b1dc30354d919748a7333dc7a2",
    "freq/0" -> "ac86fd17ba93b161a018ce937c0547f44e381343299f22c4e0dfe8178688329d",
    "freq/1" -> "304361c3d29efdceb6bbd0b85848aca6cf8d9533817cbafea4b710bc4a0c60a0",
    "freq/100" -> "f1b29eb48fce1de19818adcea78dc80dbf0d36d37debaded61393d0eb5ea0bf3",
    "freq/10000" -> "af67d52945bb572346f160d7620d508fc2b9e7adb502873e4c0462e6a663871e",
    "freq/300000" -> "e479fa282ae8dcb1fdc92a236842e161f3ad00bba22e3bf6155ca7cc8663371c",
    "freq/merge7" -> "2fabd9ed4cd95ca7021deb235ad406a9f7e1e6229dabb04a1acac52b2bed5c40"
  )
}

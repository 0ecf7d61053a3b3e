package graft.forecast

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** Bit-level golden outputs of the per-ticker forecast kernels. Each
  * digest is a SHA-256 over the outputs' `doubleToRawLongBits` (strings
  * and ints as written by DataOutputStream), in output order. They were
  * recorded from the kernels as they stood before the GARCH likelihoods
  * took the unconditional variance from `fit` and hoisted their
  * loop-invariant constants, before `forecastOneDetailed` reused its
  * full-series AR fit, before `Ssa.forecast` reused its own
  * eigendecomposition for the reconstruction, and before `MssaRl.forecast`
  * fed its state and its forecast from one decomposition: those are pure
  * refactorings, so not one output bit may move. */
class ForecastGoldenSpec extends AnyFunSuite {

  /** Seeded prices whose returns follow a GARCH(1,1) with a small drift,
    * so every arm of the fit grid (and the EWMA comparison) has
    * volatility clustering to fit. Built with StrictMath only. */
  private def series(n: Int): Array[Double] = {
    val rng = new java.util.Random(1000L + n)
    val px = new Array[Double](n)
    px(0) = 100.0
    var h = 1e-4
    var prev = 0.0
    var i = 1
    while (i < n) {
      h = 2e-6 + 0.1 * prev * prev + 0.85 * h
      prev = StrictMath.sqrt(h) * rng.nextGaussian()
      px(i) = px(i - 1) * (1.0 + 3e-4 + prev)
      i += 1
    }
    px
  }

  private def returns(px: Array[Double]): Array[Double] =
    px.sliding(2).map(a => a(1) / a(0) - 1).toArray

  private def digest(write: DataOutputStream => Unit): String = {
    val bytes = new ByteArrayOutputStream
    val out = new DataOutputStream(bytes)
    write(out)
    out.flush()
    MessageDigest.getInstance("SHA-256").digest(bytes.toByteArray)
      .map(b => f"$b%02x").mkString
  }

  private def bits(out: DataOutputStream, xs: Double*): Unit =
    xs.foreach(x => out.writeLong(java.lang.Double.doubleToRawLongBits(x)))

  private val lengths = Seq(60, 120, 243, 400)
  private val configs = Seq(
    "default" -> ForecastEngine.Config(),
    "h5_mc100" -> ForecastEngine.Config(horizon = 5, mcPaths = 100))

  private def forecastDigest(n: Int, cfg: ForecastEngine.Config): String = {
    val rows = ForecastEngine.forecastOne(s"G$n", series(n), cfg)
    assert(rows.nonEmpty)
    digest { out =>
      rows.foreach { r =>
        out.writeUTF(r.ticker); out.writeUTF(r.regime); out.writeUTF(r.model)
        out.writeInt(r.horizonStep)
        bits(out, r.weight, r.forecast, r.lowerCi, r.upperCi, r.vol, r.probUp)
      }
    }
  }

  private def garchDigest(n: Int): String = {
    val f = Garch.fit(returns(series(n)))
    digest { out =>
      out.writeUTF(f.dist); out.writeUTF(f.mean)
      out.writeBoolean(f.converged); out.writeBoolean(f.usedEwma)
      bits(out, f.omega, f.alpha, f.beta, f.persistence, f.logLik, f.nu, f.aic,
        f.meanC, f.meanPhi, f.skew)
    }
  }

  private def ssaDigest(n: Int): String = {
    val px = series(n)
    val d = Ssa.decompose(px, 30)
    val fc = Ssa.forecast(px, 10, 30)
    digest { out =>
      out.writeInt(d.rank)
      bits(out, d.explainedVariance)
      bits(out, d.reconstruction.toSeq: _*)
      bits(out, fc.toSeq: _*)
    }
  }

  private val goldenForecast = Map(
    (60, "default") ->
      "cc8022b73ef11e8ff20ad7fd649850568affb62147724083b5b62da1bc3909d8",
    (60, "h5_mc100") ->
      "c9f88c73464f8e6b34ee9ce601877a868cd57b552b9b584af3d937b0e8ecca43",
    (120, "default") ->
      "46e0ba7b35732042077f960b0eff254b5366c47a87d6cef249aeefd60b07846a",
    (120, "h5_mc100") ->
      "b8a766c0991d3c08aa9902294115a253ea9ad62b47f41d9d7d324175a2f8831e",
    (243, "default") ->
      "2a0062df25cd4782e31ad57fafa0deed817096afec928ad487d42833cd9c5a07",
    (243, "h5_mc100") ->
      "a6af02788dbd4e5710b48668e160e5eab9b756946f61b707d74e40143f909132",
    (400, "default") ->
      "2e02302afe1c0b197f37198487c9d93606617119336a9905435e47ba9936b1b2",
    (400, "h5_mc100") ->
      "d648c9e54c5666f48604fe1ab9e4ac5a0acd020685df5d7483b8b1870f67d323")

  private val goldenGarch = Map(
    60 -> "ac51435d8bf0dc2481709bd1aa017cd1dcba8143d4f9096f78fe2f5306cbcdc0",
    120 -> "1ef72c5decdd63e525ccc14ca8638a9ddd26780b61fbb373e04881c641dbb83d",
    243 -> "200e29883d8ecc1b9dec68630971b9c8ebdfb177b2b8fbfcb81d5c617d33c90a",
    400 -> "45720349a9d71227ea06caf3f5f0c1506b0d71d982707f65b416dc7db66ef4fd")

  private val goldenSsa = Map(
    60 -> "0dccb939bf75a9466dd6cde323bd277bda05062b7acdae19be5d79d9e06fac31",
    120 -> "ce619c833f552742e6a86e5be1ce5505474f9d863addaf1163194b76cef054dc",
    243 -> "8ed4fe2ecc8187fdad716aed0d0bacb261d0671c31649b6dedde23b22978c355",
    400 -> "302779cb8df099abef057d8991357d4d59b6623621cbe997e54f48aa2a0f05b3")

  /** Lengths whose series take each of the three policy actions. */
  private val mssaLengths = Seq(60, 120, 150, 200, 243, 300, 400)

  private def mssa(n: Int): (Array[Double], MssaRl.Action) = MssaRl.forecast(series(n), 10)

  private val goldenMssa = Map(
    60 -> "0dcd3757030cc421bb377374f121c8407287b5672b7f9b76968bf8844086f379",
    120 -> "f436dfa17084e9e6972c8b4f1e0d17a1a1f7f29a96ef7f3682b6f2b10f803cd9",
    150 -> "6347be966054b0ac062b977a21420b6cdd992edff6732277fff7106f7dccd23b",
    200 -> "fd4f82c1509eb31b3eb738b6ba97bfd8690155d0e9f5da82f023c758980bded8",
    243 -> "afaa8bcfc3f27194374eadf3f1ac65caaf94f07f5b76c018c4336ade4e69db02",
    300 -> "a86c05ea9354f507a70663e215a7294cc9b632ee084e3b9afebfe22c52dbcf24",
    400 -> "2ca5bf0440ce08d3f61ca4dfb8f22a20dc2c44bf44f92015cc1a4971178ac649")

  test("forecastOne rows are bit-identical to the recorded outputs") {
    val got = (for (n <- lengths; (name, cfg) <- configs)
      yield (n, name) -> forecastDigest(n, cfg)).toMap
    assert(got === goldenForecast)
  }

  test("Garch.fit parameters are bit-identical to the recorded outputs") {
    val got = lengths.map(n => n -> garchDigest(n)).toMap
    assert(got === goldenGarch)
  }

  test("Ssa.decompose and Ssa.forecast are bit-identical to the recorded outputs") {
    val got = lengths.map(n => n -> ssaDigest(n)).toMap
    assert(got === goldenSsa)
  }

  test("MssaRl.forecast is bit-identical to the recorded outputs under all three actions") {
    val runs = mssaLengths.map(n => n -> mssa(n))
    assert(runs.map(_._2._2).toSet ===
      Set(MssaRl.TrustSsa, MssaRl.BlendDrift, MssaRl.FallbackNaive))
    val got = runs.map { case (n, (fc, action)) =>
      n -> digest { out => out.writeUTF(action.toString); bits(out, fc.toSeq: _*) }
    }.toMap
    assert(got === goldenMssa)
  }
}

package graft

/** Pins the round-10 measurement-driven tuning contract: shuffle width
  * follows the two-regime rule — core count through sf10 (the no-spill
  * regime, where extra width measured as a 5.5× penalty on q408), one
  * partition per ~64 MB of input beyond it (the spill regime, where
  * 256 partitions measured 2.9× FASTER on q408 at sf100). Tuning.scala's
  * scaladoc carries the probe numbers; the heap scales alongside in
  * tools/run_bench.sh.
  */
class TuningSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("shuffle width: cores through sf10, input-scaled past the memory crossover") {
    assert(Tuning.shufflePartitions("/root/testdata/sf0.001", 32) == 32)
    assert(Tuning.shufflePartitions("/root/testdata/sf0.1", 32) == 32)
    // the sf10-sized tier (~1.6 GB) must stay at cores — the round-9
    // 256-wide setting here was the measured 5.5x mistake
    val sf10 = new java.io.File("/tmp/graft_sf10")
    if (sf10.isDirectory) {
      assert(Tuning.shufflePartitions(sf10.getPath, 32) == 32)
    }
    // past the crossover the width scales: 16 GB -> 256
    val sf100 = new java.io.File("/tmp/graft_sf100")
    if (sf100.isDirectory && Tuning.dirBytes(sf100.getPath) > (10L << 30)) {
      assert(Tuning.shufflePartitions(sf100.getPath, 32) == 256)
    }
    // the formula itself, independent of what's on disk: bytes/64MB,
    // pow2-rounded, floored at cores, capped at 2048
    assert(Tuning.shufflePartitions("/nonexistent", 32) == 32)
  }

  test("tools/run_bench.sh passes every -D and -XX entry of build.sbt's javaOptions") {
    // run_bench.sh launches graft mains with plain java, outside sbt, so
    // it copies these flags by hand; a flag missing there (the file://
    // filesystem ones, say) silently changes what a paired run measures
    def read(p: String) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(p)), java.nio.charset.StandardCharsets.UTF_8)
    val sbt = read("build.sbt")
    val block = sbt.substring(sbt.indexOf("javaOptions ++="))
    val opts = "\"(-D[^\"]+|-XX[^\"]+)\"".r
      .findAllMatchIn(block.substring(0, block.indexOf("\n)"))).map(_.group(1)).toSeq
    assert(opts.exists(_.startsWith("-Dspark.hadoop.fs.file.impl=")), opts)
    assert(opts.exists(_.startsWith("-XX:ReservedCodeCacheSize=")), opts)
    val script = read("tools/run_bench.sh")
    val missing = opts.filterNot(script.contains)
    assert(missing.isEmpty, s"build.sbt javaOptions missing from tools/run_bench.sh: $missing")
  }

  test("dirBytes walks recursively and returns a positive size for real data") {
    assert(Tuning.dirBytes("/root/testdata/sf0.001") > 0L)
  }
}

package graft.tools

import graft.multimodal.Multimodal

/** Writes the committed test fixtures that declared queries read — currently
  * the multimodal binary-asset parquet at [[Multimodal.FixturePath]].
  * Deterministic (id-derived payloads, no randomness), so re-running
  * reproduces the committed bytes' content exactly.
  */
object WriteFixtures {
  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else Multimodal.FixturePath
    val spark = graft.util.Harness.session(cpus = 4)
    Multimodal.syntheticAssets(spark, 24)
      .coalesce(1).write.mode("overwrite").parquet(out)
    println(s"wrote $out")
    // Tiny committed PNG (real encoder, deterministic pixels): the fixture
    // MultimodalSpec decodes to prove the real-codec path on committed bytes.
    val png = new java.io.File(new java.io.File(out).getParentFile, "sample.png")
    java.nio.file.Files.write(png.toPath, Multimodal.PngCodec.encode(7L, 48, 32))
    println(s"wrote $png")
    spark.stop()
  }
}

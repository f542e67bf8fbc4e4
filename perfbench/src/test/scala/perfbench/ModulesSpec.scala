package perfbench

import org.scalatest.funsuite.AnyFunSuite

class ModulesSpec extends AnyFunSuite {

  private def site(frames: String*) = frames.mkString("\n")

  test("a job counts to the module of its innermost graft frame") {
    val s = site(
      "org.apache.spark.sql.Dataset.collect(Dataset.scala:10)",
      "graft.operators.Merge$.$anonfun$mergeWholeManifest$2(Merge.scala:300)",
      "graft.streaming.MergeSink$.applyBatch(MergeSink.scala:151)",
      "graft.streaming.IngestPipeline$.$anonfun$start$4(IngestPipeline.scala:250)")
    assert(Modules.graftObjects(s) === Seq("graft.operators.Merge",
      "graft.streaming.MergeSink", "graft.streaming.IngestPipeline"))
    assert(Modules.of(s) === Some("merge"))
  }

  test("shared helpers count to the layer that called them") {
    val s = site(
      "graft.operators.ManifestCommit$.commit(ManifestCommit.scala:40)",
      "graft.operators.ControlPlane$.withScope(ControlPlane.scala:12)",
      "graft.operators.Dedup$.applySigCdcBatchBucketed(Dedup.scala:900)",
      "graft.streaming.NearDupStream$.ingestCdcBatchBucketed(NearDupStream.scala:330)")
    assert(Modules.of(s) === Some("sig_store"))
  }

  test("a call site with no graft frame names no module") {
    assert(Modules.of(site("java.base/java.lang.Thread.run(Thread.java:840)")) === None)
  }
}

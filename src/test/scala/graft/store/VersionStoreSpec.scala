package graft.store

import graft.SparkSpec
import java.nio.file.Files

/** The version protocol on its own: what counts as committed, what a
  * commit keeps, and the out-of-sync and foreign-layout refusals.
  */
class VersionStoreSpec extends SparkSpec {

  private def store(): VersionStore =
    VersionStore(spark, Files.createTempDirectory("vstore").toString + "/t")

  private def commitRows(st: VersionStore, n: Long): Unit = {
    val ss = spark; import ss.implicits._
    st.commit(n)(Seq(n).toDF("v").write.parquet)
  }

  private def versionDirs(st: VersionStore): Set[String] =
    Option(new java.io.File(st.dir).list()).fold(Set.empty[String])(_.toSet)

  test("only marked versions count; a commit keeps itself and the version it was built from") {
    val st = store()
    assert(st.latest.isEmpty && st.before(0).isEmpty)
    for (n <- 0L to 3L) commitRows(st, n)
    assert(st.latest.contains(3L) && st.before(3).contains(2L))
    assert(versionDirs(st) == Set("__v=2", "__v=3"))
    // a torn version (no marker) is invisible and a rerun replaces it
    new java.io.File(st.path(4)).mkdirs()
    assert(st.latest.contains(3L))
    commitRows(st, 4)
    assert(st.latest.contains(4L))
    assert(spark.read.parquet(st.path(4)).collect().map(_.getLong(0)).toSeq == Seq(4L))
    // a replayed commit of the newest version rebuilds it beside its predecessor
    commitRows(st, 4)
    assert(versionDirs(st) == Set("__v=3", "__v=4"))
  }

  test("a committed version ahead of the one being built fails out of sync") {
    val st = store()
    commitRows(st, 0); commitRows(st, 1)
    val e = intercept[IllegalStateException](st.before(0))
    assert(e.getMessage.contains("out of sync"))
    intercept[IllegalStateException](commitRows(st, 0))
    assert(st.latest.contains(1L))
  }

  test("a directory that is not a version fails every operation") {
    val st = store()
    new java.io.File(st.dir, "v=0").mkdirs()
    for (op <- Seq[() => Any](() => st.latest, () => st.before(1), () => commitRows(st, 1))) {
      val e = intercept[IllegalStateException](op())
      assert(e.getMessage.contains("not a version directory"))
    }
  }
}

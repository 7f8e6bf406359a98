package graft

/** The OMS pipeline's in-repo input fixtures (`src/test/resources/oms/`):
  * one small CSV per reference dataset header shape of FIXTURES.md §B,
  * headers verbatim, a few rows each. */
object OmsFixtures {
  def path(file: String): String = {
    val url = getClass.getResource(s"/oms/$file")
    require(url != null, s"no OMS fixture $file on the test classpath")
    new java.io.File(url.toURI).getPath
  }

  /** The fixture directory itself — a landing dir for the operational
    * (`--dir`) pipeline. */
  def dir: String = new java.io.File(path("monkeypox_report.csv")).getParent
}

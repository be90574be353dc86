package graft

import java.io.File
import org.scalatest.Assertions

/** The reference implementation's Febrl CSVs (FIXTURES.md §1): `train.csv`
  * (20,000 records) and `test.csv` (1,000 records), which the golden tests
  * pinning the reference's published numbers read. They are not part of
  * this repository: they live in the reference checkout beside it, at
  * `../reference/data/` from the repository root the tests run in. */
object ReferenceFixtures {

  private val dir =
    new File(new File(sys.props("user.dir")).getAbsoluteFile.getParentFile, "reference/data")

  /** The path of reference file `name`. A missing file fails the calling
    * test with one message that names it. */
  def csv(name: String): String = {
    val f = new File(dir, name)
    if (!f.isFile) Assertions.fail(s"reference fixture missing: ${f.getPath} (FIXTURES.md §1)")
    f.getPath
  }
}

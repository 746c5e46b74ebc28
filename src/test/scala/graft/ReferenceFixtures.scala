package graft

import java.io.File

import org.scalatest.Assertions

/** The fink-science reference checkout whose fixtures the golden specs
  * read in place (FIXTURES.md). It is not part of this repository, so a
  * spec that reads one of its files first calls [[assumePresent]] with
  * exactly those files: the test cancels, naming the absent file, where
  * the checkout is missing, and runs unchanged where it is present.
  */
object ReferenceFixtures {

  val Root = "/root/reference/fink_science"

  /** Cancels the calling test unless every path exists. A relative path
    * is resolved against [[Root]].
    */
  def assumePresent(paths: String*): Unit = paths.foreach { p =>
    val f = if (new File(p).isAbsolute) new File(p) else new File(Root, p)
    Assertions.assume(f.exists, s"reference fixture absent: ${f.getPath}")
  }
}

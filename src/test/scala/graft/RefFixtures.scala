package graft

import java.nio.file.{Files, Paths}

/** The reference roapi checkout's `test_data` fixtures (FIXTURES.md §A),
  * read in place by the golden-parity specs. A test that reads one starts
  * with `assume(RefFixtures.present(name))`: it is canceled where that file
  * is absent and runs unchanged where it is there. */
object RefFixtures {
  private val dir = "/root/reference/test_data"

  def path(name: String): String = s"$dir/$name"

  /** True when every named fixture exists. */
  def present(names: String*): Boolean =
    names.forall(n => Files.exists(Paths.get(path(n))))
}

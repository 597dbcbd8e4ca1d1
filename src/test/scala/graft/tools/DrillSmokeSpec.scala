package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** Every scale drill at its smoke args, planted-truth and recall
  * assertions on: a drill that stops compiling or asserting fails
  * here, not at its next scale run. Each runs in its own session over
  * the suite's context, so a drill's conf sets (the screen drill's
  * `fullcache` turns the index cache on) do not leak into other specs.
  */
class DrillSmokeSpec extends AnyFunSuite {
  Drill.all.foreach { d =>
    test(s"drill ${d.name} at smoke size ${d.smokeArgs.mkString(" ")}") {
      try Drill.run(graft.TestSpark.spark.newSession(), d, d.smokeArgs)
      finally graft.ext.IndexCache.clear()
    }
  }
}

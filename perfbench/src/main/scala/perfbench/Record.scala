package perfbench

import java.nio.file.Path
import scala.util.Random

/** Runs every operation instance of a workload once, in a seeded order,
  * and writes the digests in the expected-file format. run.py merges
  * several such recordings: a digest that differs between them marks an
  * operation that is not bit-stable. */
object Record {
  def apply(c: Ctx, wl: Workload, seed: Long, out: Path): Unit = {
    wl.prepare(c)
    val got = new Random(seed).shuffle(wl.instances).flatMap { op =>
      op.body(c).checks.map { case (k, d) => k -> Expected(d.rows, Some(d.hash), d.schema) }
    }
    Checks.save(out, s"${wl.name} digests, recording seed $seed", got.toMap)
  }
}

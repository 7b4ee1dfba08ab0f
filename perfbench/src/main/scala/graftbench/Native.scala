package graftbench

import java.io.File
import java.nio.file.{Files, Path}

/** The repository's native Brotli CLI (`tools/brotli_cli`), which
  * `inputs.py` copies into the run directory `dir`. */
final class NativeBrotli(dir: Path) {
  private val cli = dir.resolve("brotli_cli").toString

  /** Runs the CLI with `in` as standard input and `out` as standard output. */
  def run(args: Seq[String], in: File, out: File): Unit = {
    val p = new ProcessBuilder((cli +: args): _*)
      .redirectInput(in).redirectOutput(out)
      .redirectError(ProcessBuilder.Redirect.INHERIT).start()
    val rc = p.waitFor()
    if (rc != 0) throw new RuntimeException(s"brotli_cli ${args.mkString(" ")} exited $rc")
  }

  /** `data` as one Brotli stream at `quality` and a 4 MiB window. */
  def compress(data: Array[Byte], quality: Int): Array[Byte] = {
    val in = Files.createTempFile(dir, "native", ".raw")
    val out = Files.createTempFile(dir, "native", ".br")
    try {
      Files.write(in, data)
      run(Seq("c", quality.toString, NativeBrotli.Window.toString), in.toFile, out.toFile)
      Files.readAllBytes(out)
    } finally {
      Files.deleteIfExists(in)
      Files.deleteIfExists(out)
    }
  }
}

object NativeBrotli {
  /** log2 of the window, 4 MiB. */
  val Window = 22
}

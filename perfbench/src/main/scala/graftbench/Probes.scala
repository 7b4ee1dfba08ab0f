package graftbench

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.io.compress.{CodecPool, CompressionCodec}
import org.apache.hadoop.util.ReflectionUtils

import graft.brotli.Brotli
import graft.codec.{BroFramed, BroFramedCodec, BrotliCodec}
import graftbench.Stats.median

/** Single-threaded layer probes on one workload's own bytes, run after
  * the timed phase of a traced run:
  *  - `graft.brotli`: `Brotli.compress`/`decompress` at the codec's
  *    default quality, next to the native `tools/brotli_cli` on the same
  *    bytes (which must also decode graft's stream byte for byte);
  *  - `graft.codec`: the `.bro` and `.brf` Hadoop codecs through
  *    `CodecPool` at their default buffer, in 64 KiB writes and reads.
  * Each encode timing is the median of `reps` repetitions, each decode
  * timing the median of five. */
final class Probes(trace: Trace, workDir: Path, reps: Int) {
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val errors = mutable.ArrayBuffer.empty[String]
  private val Quality = BrotliCodec.DefaultQuality
  private val Chunk = 1 << 16
  // decoding is fast: more repetitions for the same time budget
  private val DecodeReps = 5

  private def timed[A](name: String, n: Int = reps)(body: => A): (A, Double) = {
    var out: A = null.asInstanceOf[A]
    val times = (1 to n).map { _ =>
      val t = System.nanoTime()
      out = trace.span(name)(body)
      (System.nanoTime() - t) / 1e9
    }
    (out, median(times))
  }

  def run(payload: Array[Byte]): Unit = {
    val mb = payload.length / 1e6
    // JIT warm-up on a slice, so the probes time compiled code even on a
    // workload whose operations never ran the encoder or the decoder
    val slice = java.util.Arrays.copyOf(payload, math.min(payload.length, 1 << 20))
    val sliceComp = (1 to 3).map(_ => Brotli.compress(slice, Quality)).last
    (1 to 20).foreach(_ => Brotli.decompress(sliceComp))

    val (comp, encS) = timed("brotli.enc")(Brotli.compress(payload, Quality))
    val (plain, decS) = timed("brotli.dec", DecodeReps)(Brotli.decompress(comp))
    if (!java.util.Arrays.equals(plain, payload)) errors += "Brotli round trip differs"
    metrics("brotli.enc_mb_s") = mb / encS
    metrics("brotli.dec_mb_s") = mb / decS
    metrics("brotli.ratio") = payload.length.toDouble / comp.length
    native(payload, comp, mb)

    val conf = new Configuration()
    val bro = ReflectionUtils.newInstance(classOf[BrotliCodec], conf)
    val brf = ReflectionUtils.newInstance(classOf[BroFramedCodec], conf)
    val (broComp, broEnc) = timed("codec.bro.enc")(compress(bro, payload))
    val (broPlain, broDec) = timed("codec.bro.dec", DecodeReps)(decompress(bro, broComp))
    val (brfComp, brfEnc) = timed("codec.brf.enc")(compress(brf, payload))
    val (brfPlain, brfDec) = timed("codec.brf.dec", DecodeReps)(decompress(brf, brfComp))
    if (!java.util.Arrays.equals(broPlain, payload)) errors += ".bro codec round trip differs"
    if (!java.util.Arrays.equals(brfPlain, payload)) errors += ".brf codec round trip differs"
    metrics("codec.bro_enc_mb_s") = mb / broEnc
    metrics("codec.bro_dec_mb_s") = mb / broDec
    metrics("codec.brf_enc_mb_s") = mb / brfEnc
    metrics("codec.brf_dec_mb_s") = mb / brfDec
    metrics("codec.enc_self_s_per_mb") = (broEnc - encS) / mb
    metrics("codec.dec_self_s_per_mb") = (broDec - decS) / mb
    metrics("codec.compressed_bytes") = broComp.length.toDouble
    metrics("codec.brf_frames") = frames(brfComp).toDouble
  }

  private def compress(codec: CompressionCodec, data: Array[Byte]): Array[Byte] = {
    val sink = new ByteArrayOutputStream()
    val c = CodecPool.getCompressor(codec)
    try {
      val out = codec.createOutputStream(sink, c)
      var off = 0
      while (off < data.length) {
        val n = math.min(Chunk, data.length - off)
        out.write(data, off, n)
        off += n
      }
      out.close()
    } finally CodecPool.returnCompressor(c)
    sink.toByteArray
  }

  private def decompress(codec: CompressionCodec, data: Array[Byte]): Array[Byte] = {
    val sink = new ByteArrayOutputStream(data.length * 4)
    val d = CodecPool.getDecompressor(codec)
    try {
      val in = codec.createInputStream(new ByteArrayInputStream(data), d)
      val buf = new Array[Byte](Chunk)
      var n = in.read(buf)
      while (n >= 0) { sink.write(buf, 0, n); n = in.read(buf) }
      in.close()
    } finally CodecPool.returnDecompressor(d)
    sink.toByteArray
  }

  /** Frames in a `.brf` stream, walked through their headers. */
  private def frames(b: Array[Byte]): Int = {
    var off = 0
    var n = 0
    while (off + BroFramed.HeaderLen <= b.length && BroFramed.validHeader(b, off)) {
      off += BroFramed.HeaderLen + BroFramed.readInt(b, off + 8)
      n += 1
    }
    n
  }

  private val cli = new NativeBrotli(workDir)

  private def native(payload: Array[Byte], graftComp: Array[Byte], mb: Double): Unit = {
    val raw = workDir.resolve("probe.raw").toFile
    val nat = workDir.resolve("probe.native.br").toFile
    val back = workDir.resolve("probe.back").toFile
    val ours = workDir.resolve("probe.graft.br").toFile
    Files.write(raw.toPath, payload)
    Files.write(ours.toPath, graftComp)
    val (_, encS) = timed("brotli.native_enc")(cli.run(Seq("c", Quality.toString, NativeBrotli.Window.toString), raw, nat))
    val (_, decS) = timed("brotli.native_dec", DecodeReps)(cli.run(Seq("d"), nat, back))
    metrics("brotli.native_enc_mb_s") = mb / encS
    metrics("brotli.native_dec_mb_s") = mb / decS
    metrics("brotli.native_ratio") = payload.length.toDouble / nat.length
    cli.run(Seq("d"), ours, back)
    if (!java.util.Arrays.equals(Files.readAllBytes(back.toPath), payload))
      errors += "native brotli does not decode graft's stream to the input bytes"
    Seq(raw, nat, back, ours).foreach(_.delete())
  }
}

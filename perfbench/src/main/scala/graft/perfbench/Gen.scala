package graft.perfbench

import graft.model.Addresses
import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

/** Traffic dimensions of one staged trace replay. Shares are
  * per-item probabilities drawn from the seed; the generator records
  * the exact counts it injected in [[Injected]].
  */
case class Traffic(
    txCount: Int, //             transactions per chain
    txPerBlock: Int, //          transactions per 12 s block
    callsPerTx: Int, //          mean non-root, non-precompile calls per transaction
    zkShare: Double, //          transactions calling ecRecover / ecPairing
    degree2Share: Double, //     ZK transactions whose precompile caller sits behind a router contract
    precompileMix: Seq[(String, Double)], // precompile address -> weight of each ZK call
    contractUniverse: Int, //    distinct precompile-calling contracts
    zipfSkew: Double, //         Zipf exponent of contract popularity (0 = uniform)
    chainIds: Seq[Long],
    txPerSlice: Int, //          transactions per delivered file
    malformedShare: Double, //   torn payload copies, per trace
    straddleShare: Double, //    transactions split across a file boundary, within the watermark
    outOfOrderShare: Double, //  transactions delivered one file late, within the watermark
    lateShare: Double, //        traces delivered three files late, beyond the watermark
    redeliveryShare: Double, //  files delivered a second time
    redeliveryLag: Int, //       files between a file and its re-delivery
    sentinels: Boolean, //       a far-future closing file (event-time streams)
)

/** Exact counts of what one staged replay contains. */
case class Injected(
    cleanTraces: Long, //        every trace that belongs in the expected result, once
    deliveredRows: Long, //      every line the stream offers (copies, torn payloads, sentinels)
    files: Int,
    zkTxs: Long,
    degree2Txs: Long,
    malformedRows: Long, //      torn payloads delivered, re-deliveries included
    straddledTxs: Long,
    outOfOrderTxs: Long,
    lateTraces: Long,
    redeliveredFiles: Int,
) {
  def toJson: String =
    productElementNames.zip(productIterator)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
}

/** One chain's staged replay: delivery files in stream order (their
  * modification times are increasing, which is the order the file
  * source replays them in) and the clean corpus file.
  */
case class ChainReplay(chainId: Long, dir: File, files: Seq[File], clean: File)

case class Staged(chains: Seq[ChainReplay], injected: Injected)

/** Seeded trace-replay generator. The same (traffic, seed) writes
  * byte-identical files: every draw comes from one SplittableRandom in
  * a fixed order and every payload is rendered with a fixed field order.
  *
  * Payloads use the Kafka trace-topic wire format ([[graft.model.Schemas.trace]]
  * as JSON, one trace per line); the chain id is implied by the topic,
  * here the per-chain directory.
  */
object Gen {

  /** Ethereum's block cadence. */
  val BlockSeconds = 12L
  private val GenesisTs = 1700000000L
  private val BaseMtime = 1600000000000L

  /** One trace of a generated transaction. */
  private case class Call(txIdx: Int, from: String, to: String, value: String,
      input: String, output: String, callType: String, gas: Long, gasUsed: Long,
      subtraces: Int, traceAddress: Seq[Int], error: String, txHash: String,
      block: Long, ts: Long, blockHash: String) {

    /** The Kafka trace-topic payload: [[graft.model.Schemas.trace]] as JSON. */
    def payload: String =
      s"""{"transaction_index":$txIdx,"from_address":${s(from)},"to_address":${s(to)},""" +
        s""""value":${s(value)},"input":${s(input)},"output":${s(output)},""" +
        s""""trace_type":"call","call_type":${s(callType)},"reward_type":null,""" +
        s""""gas":$gas,"gas_used":$gasUsed,"subtraces":$subtraces,""" +
        s""""trace_address":${traceAddress.mkString("[", ",", "]")},"error":${s(error)},""" +
        s""""transaction_hash":${s(txHash)},"block_number":$block,""" +
        s""""block_timestamp":$ts,"block_hash":${s(blockHash)}}"""

    /** The [[graft.model.TraceRow]] `TraceEtl.normalize` makes of the
      * payload (addresses and calldata are generated lowercase).
      */
    def row(chainId: Long): String =
      s"""{"chain_id":$chainId,"transaction_hash":${s(txHash)},"transaction_index":$txIdx,""" +
        s""""from_address":${s(from)},"to_address":${s(to)},"value":${s(value)},""" +
        s""""input":${s(input)},"output":${s(output)},"gas_used":$gasUsed,""" +
        s""""is_root":${traceAddress.isEmpty},"block_number":$block,""" +
        s""""block_timestamp":$ts,"block_hash":${s(blockHash)},"error":${s(error)}}"""
  }


  private final class Rng(seed: Long) {
    private val r = new SplittableRandom(seed)
    def chance(p: Double): Boolean = p > 0 && r.nextDouble() < p
    def int(n: Int): Int = r.nextInt(n)
    def hex(nBytes: Int): String = {
      val sb = new java.lang.StringBuilder(2 + 2 * nBytes).append("0x")
      var i = 0
      while (i < nBytes) {
        val b = r.nextInt(256)
        sb.append(Character.forDigit(b >> 4, 16)).append(Character.forDigit(b & 15, 16))
        i += 1
      }
      sb.toString
    }
    def weighted[A](ws: Seq[(A, Double)]): A = {
      var x = r.nextDouble() * ws.map(_._2).sum
      ws.find { case (_, w) => x -= w; x < 0 }.getOrElse(ws.last)._1
    }
  }

  /** Zipf(s) sampler over ranks 0..n-1 via an inverted cumulative table. */
  private final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def draw(rng: Rng): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.int(1 << 30) / (1 << 30).toDouble)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  private case class Contract(address: String, selectors: Seq[String])

  /** JSON string literal or null (all generated strings are hex or ASCII words). */
  private def s(v: String): String = if (v == null) "null" else "\"" + v + "\""

  /** Precompile call payloads: (input, output) per EIP-196/197 and ecRecover. */
  private def precompileCall(rng: Rng, p: String, signers: IndexedSeq[String]): (String, String) =
    p match {
      case Addresses.EcRecover =>
        (rng.hex(128), "0x" + "00" * 12 + signers(rng.int(signers.size)).drop(2))
      case Addresses.EcPairing =>
        (rng.hex(192 * (1 + rng.int(2))), "0x" + "00" * 31 + "01")
      case Addresses.EcAdd => (rng.hex(128), rng.hex(64))
      case _ => (rng.hex(96), rng.hex(64))
    }

  /** One transaction's traces in call-tree pre-order (the topic order). */
  private def transaction(rng: Rng, t: Traffic, txIdx: Int, block: Long, blockHash: String,
      eoas: IndexedSeq[String], general: IndexedSeq[Contract], zk: IndexedSeq[Contract],
      routers: IndexedSeq[Contract], zkPick: Zipf, routerPick: Zipf,
      isZk: Boolean, degree2: Boolean): Seq[Call] = {
    val ts = GenesisTs + block * BlockSeconds
    val txHash = rng.hex(32)
    val error = if (rng.chance(0.01)) "Reverted" else null
    // nodes: (trace address, from, to, input, output, callType, children)
    final case class Node(path: Seq[Int], from: String, to: String, input: String,
        output: String, callType: String, var kids: Int = 0, leaf: Boolean = false)
    val nodes = ArrayBuffer.empty[Node]
    def call(c: Contract) = c.selectors(rng.int(c.selectors.size)) + rng.hex(32 * rng.int(3)).drop(2)
    def child(parent: Node, to: String, input: String, output: String, callType: String,
        leaf: Boolean): Node = {
      val n = Node(parent.path :+ parent.kids, parent.to, to, input, output, callType, leaf = leaf)
      parent.kids += 1
      nodes += n
      n
    }
    val eoa = eoas(rng.int(eoas.size))
    val caller = if (isZk) Some(zk(zkPick.draw(rng))) else None
    val router = if (degree2) Some(routers(routerPick.draw(rng))) else None
    val rootTo = router.orElse(caller).getOrElse(general(rng.int(general.size)))
    val root = Node(Seq.empty, eoa, rootTo.address, call(rootTo), rng.hex(32), "call")
    nodes += root
    caller.foreach { c =>
      val host = router.fold(root)(_ => child(root, c.address, call(c), rng.hex(32), "call", leaf = false))
      // first precompile call qualifies the transaction; the rest follow the mix
      val qualifying = t.precompileMix.filter { case (p, _) => Addresses.FirstDegreeFilter.contains(p) }
      val ps = rng.weighted(qualifying) +: Seq.fill(rng.int(3))(rng.weighted(t.precompileMix))
      ps.foreach { p =>
        val (in, out) = precompileCall(rng, p, eoas)
        child(host, p, in, out, "staticcall", leaf = true)
      }
    }
    (0 until rng.int(2 * t.callsPerTx + 1)).foreach { _ =>
      val open = nodes.filterNot(_.leaf)
      val parent = open(rng.int(open.size))
      val g = general(rng.int(general.size))
      child(parent, g.address, call(g), if (rng.chance(0.3)) "0x" else rng.hex(32), "call", leaf = false)
    }
    val value = if (rng.chance(0.2)) (1L + rng.int(1000000)).toString + "000000000000" else "0"
    nodes.sortBy(_.path.mkString(",")).toSeq.map { n =>
      val gas = 30000L + rng.int(300000)
      Call(txIdx, n.from, n.to, if (n.path.isEmpty) value else "0",
        n.input, n.output, n.callType, gas, gas - rng.int(30000), n.kids, n.path,
        if (n.path.isEmpty) error else null, txHash, block, ts, blockHash)
    }
  }

  /** Generate one replay under `dir` (which must not exist yet). The
    * delivery files hold Kafka payloads, or normalized `TraceRow`s when
    * `normalized`; the clean corpus always holds payloads.
    */
  def stage(t: Traffic, seed: Long, dir: File, normalized: Boolean): Staged = {
    val rng = new Rng(seed)
    def contracts(n: Int) = IndexedSeq.fill(n)(Contract(rng.hex(20), Seq.fill(1 + rng.int(3))(rng.hex(4))))
    val eoas = IndexedSeq.fill(2000)(rng.hex(20))
    val general = contracts(5000)
    val zk = contracts(t.contractUniverse)
    val routers = contracts(math.max(1, t.contractUniverse / 4))
    val zkPick = new Zipf(zk.size, t.zipfSkew)
    val routerPick = new Zipf(routers.size, t.zipfSkew)
    var zkTxs, degree2Txs, malformed, straddled, ooo, late, clean, delivered = 0L
    var redeliveredFiles = 0

    val chains = t.chainIds.map { chainId =>
      val nSlices = (t.txCount + t.txPerSlice - 1) / t.txPerSlice
      // slices(k) = lines delivered in file k before re-delivery copies
      val slices = Array.fill(nSlices)(ArrayBuffer.empty[Call])
      val cleanOut = ArrayBuffer.empty[String]
      var blockHash = ""
      (0 until t.txCount).foreach { i =>
        val block = (i / t.txPerBlock).toLong
        if (i % t.txPerBlock == 0) blockHash = rng.hex(32)
        val isZk = rng.chance(t.zkShare)
        val degree2 = isZk && rng.chance(t.degree2Share)
        if (isZk) zkTxs += 1
        if (degree2) degree2Txs += 1
        val all = transaction(rng, t, i % t.txPerBlock, block, blockHash, eoas, general,
          zk, routers, zkPick, routerPick, isZk, degree2)
        val k = i / t.txPerSlice
        val lastBlockOfSlice = (math.min((k + 1) * t.txPerSlice, t.txCount) - 1) / t.txPerBlock
        // only the slice's last 2 blocks may slip into the next file:
        // they stay above the watermark (delay >= 3 blocks) there
        val slippable = k + 1 < nSlices && block >= lastBlockOfSlice - 1
        if (slippable && rng.chance(t.outOfOrderShare)) {
          ooo += 1
          slices(k + 1) ++= all
        } else if (slippable && all.size > 1 && rng.chance(t.straddleShare)) {
          straddled += 1
          val cut = 1 + rng.int(all.size - 1)
          slices(k) ++= all.take(cut)
          slices(k + 1) ++= all.drop(cut)
        } else slices(k) ++= all
      }
      // late traces: moved three files on. A batch drops rows behind the
      // watermark of the batch before it, which trails that batch's
      // predecessor's newest event, so two files on is not yet late.
      val lateMoves = ArrayBuffer.empty[(Int, Call)]
      // (only files three from the end can lose traces, so their share
      // is scaled up to keep `lateShare` of all traces)
      val lateP = t.lateShare * nSlices / math.max(1, nSlices - 3)
      (0 until nSlices - 3).foreach { k =>
        val kept = slices(k).filterNot { tr =>
          val l = rng.chance(lateP)
          if (l) lateMoves += ((k + 3, tr))
          l
        }
        slices(k) = kept
      }
      late += lateMoves.size
      lateMoves.foreach { case (k, tr) => slices(k) += tr }
      val lateSet = lateMoves.map(_._2).toSet
      slices.foreach(_.foreach(c => if (!lateSet.contains(c)) cleanOut += c.payload))
      clean += cleanOut.size

      // file contents: traces plus torn copies (a strict prefix of a
      // JSON object is never a complete object)
      def line(c: Call) = if (normalized) c.row(chainId) else c.payload
      val lines: IndexedSeq[Seq[String]] = slices.toIndexedSeq.map(_.toSeq.flatMap { tr =>
        val l = line(tr)
        if (rng.chance(t.malformedShare)) Seq(l, l.substring(0, 1 + rng.int(l.length - 2)))
        else Seq(l)
      })
      val sentinelLines =
        if (!t.sentinels) Seq.empty
        else {
          val maxTs = GenesisTs + ((t.txCount - 1) / t.txPerBlock) * BlockSeconds
          Seq(Seq(line(Call(0, eoas(0), general(0).address, "0", general(0).selectors.head, "0x",
            "call", 21000L, 21000L, 0, Seq.empty, null, rng.hex(32), -1L, maxTs + 1000000L, rng.hex(32)))))
        }
      // delivery order: file k at position k, its copy `redeliveryLag` files later
      val order = lines.indices.flatMap { k =>
        val copy = rng.chance(t.redeliveryShare)
        if (copy) redeliveredFiles += 1
        (k.toDouble, lines(k)) +: (if (copy) Seq((k + t.redeliveryLag + 0.5, lines(k))) else Seq.empty)
      }.sortBy(_._1).map(_._2) ++ sentinelLines
      malformed += order.map(_.count(l => !l.endsWith("}"))).sum
      delivered += order.map(_.size.toLong).sum

      val chainDir = new File(dir, s"chain_$chainId")
      chainDir.mkdirs()
      val files = order.zipWithIndex.map { case (ls, n) =>
        val f = new File(chainDir, f"d_$n%05d.jsonl")
        write(f, ls)
        f.setLastModified(BaseMtime + n * 1000L)
        f
      }
      val cleanFile = new File(dir, s"clean_$chainId.jsonl")
      write(cleanFile, cleanOut.toSeq)
      ChainReplay(chainId, chainDir, files, cleanFile)
    }
    Staged(chains, Injected(clean, delivered, chains.map(_.files.size).sum, zkTxs,
      degree2Txs, malformed, straddled, ooo, late, redeliveredFiles))
  }

  private def write(f: File, lines: Seq[String]): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), StandardCharsets.UTF_8))
    try lines.foreach { l => w.write(l); w.write('\n') }
    finally w.close()
  }
}

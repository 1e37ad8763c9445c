package graft.operators

import graft.model._
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Pure helpers mirroring the reference's per-trace scalar logic.
  * All inputs are 0x-prefixed lowercase hex strings.
  */
object TraceOps {

  /** Decoded byte length of a 0x-hex string. */
  def hexByteLen(hex: String): Int =
    if (hex == null) 0
    else if (hex.startsWith("0x") || hex.startsWith("0X")) (hex.length - 2) / 2
    else hex.length / 2

  /** Function selector: first 4 bytes of calldata iff the calldata is
    * STRICTLY longer than 4 bytes, else the zero selector
    * (reference: trace_tree.rs:44-53 `construct_signature` — a
    * 4-byte-exact input yields zero; quirk preserved).
    */
  def selector(input: String): String =
    if (input == null || hexByteLen(input) <= 4) Addresses.ZeroSelector
    else "0x" + input.substring(2, 10)

  /** Deterministic pick among multiple root candidates of one tx
    * (malformed input can carry several `trace_address=[]` rows; a
    * partition-order-dependent "first wins" would make results
    * nondeterministic). Total order: each field ascending with None
    * last — mirrored exactly by the relational plan's
    * asc_nulls_last window sort.
    */
  def rootRank(r: RootInfo): String = {
    def num(v: Option[Long]): String = v.map(x => f"$x%020d").getOrElse("\uffff")
    def str(v: Option[String]): String = v.getOrElse("\uffff")
    Seq(
      num(r.transaction_index.map(_.toLong)),
      str(r.from_address), str(r.to_address), str(r.value), str(r.input),
      num(r.gas_used), num(r.block_number), num(r.block_timestamp),
      str(r.block_hash), str(r.error),
    ).mkString("\u0000")
  }

  def betterRoot(a: RootInfo, b: RootInfo): RootInfo =
    if (rootRank(a) <= rootRank(b)) a else b
}

/** Aggregation buffer: the reference's five incremental aggregates
  * (reference: trace_tree.rs:14-26). Maps are keyed by lowercase
  * address; counts merge by summation so map-side partial aggregation
  * is exact.
  */
case class TreeBuf(
    chainId: Option[Long], //  group key, captured on first reduce
    txHash: Option[String],
    callTree: Map[String, Map[String, Long]], //   to -> from -> count
    gasTree: Map[String, Map[String, Long]], //  from -> to   -> gas
    sigTree: Map[String, Seq[String]], //          to -> selectors (distinct)
    pairSizes: Map[String, Seq[Int]], //         from -> input sizes (multiset)
    recoverAddrs: Seq[String], //                       distinct
    root: Option[RootInfo],
)

object TreeBuf {
  val empty: TreeBuf =
    TreeBuf(None, None, Map.empty, Map.empty, Map.empty, Map.empty, Seq.empty, None)

  private[operators] def mergeCounts(
      a: Map[String, Map[String, Long]],
      b: Map[String, Map[String, Long]]): Map[String, Map[String, Long]] =
    if (a.isEmpty) b
    else if (b.isEmpty) a
    else b.foldLeft(a) { case (acc, (k, inner)) =>
      val merged = acc.get(k) match {
        case None => inner
        case Some(cur) => inner.foldLeft(cur) { case (m, (k2, v)) =>
          m.updated(k2, m.getOrElse(k2, 0L) + v)
        }
      }
      acc.updated(k, merged)
    }
}

/** Fused per-transaction commit: one pass over a transaction's traces
  * maintains all five aggregates (reference: trace_tree.rs:247-303
  * `add_trace`), and `finish` derives the transaction + contract rows
  * (reference: trace_tree.rs:72-245 `commit`). The one fold every
  * commit runs: the batch and micro-batch commit through
  * [[TraceEtl.commitTraces]], the sessionizer through
  * `StreamingEtl.sessionCommit`.
  *
  * Input is the [[AggRow]] of [[TraceEtl.prepare]]: the per-trace
  * scalars (masked selector, pairing byte length, recovered address)
  * are already codegen'd column values, so `reduce` does no string
  * work and non-root rows carry no payload strings.
  *
  * Spark shape: ONE shuffle on (chain_id, transaction_hash) — the
  * degree-graph traversal (J2/J3), degree union (J4), enrichment (J5)
  * and closest-address pick (J6) all happen inside `finish` on the
  * per-tx buffer, so no self-joins reach the physical plan. On the
  * pruned path the shuffle is the [[TraceEtl.pruneNonZk]] window's and
  * carries the prepared rows (payload strings only on roots); the
  * buffers fold after it. With `prefilter = false` the aggregation
  * partially aggregates map-side and the shuffle carries the partial
  * tree buffers, not the raw traces.
  *
  * Deliberate deltas from the reference (documented in SURVEY §7.1):
  * grouping is by key, not stream order, so late/reordered traces
  * cannot be mis-attributed to a neighboring transaction; array
  * outputs are sorted for deterministic comparison.
  */
class TraceTreeAggregator extends Aggregator[AggRow, TreeBuf, TxCommit] {

  override def zero: TreeBuf = TreeBuf.empty

  override def reduce(buf0: TreeBuf, t: AggRow): TreeBuf = {
    val buf = if (buf0.chainId.isEmpty)
      buf0.copy(chainId = Some(t.chain_id), txHash = Option(t.transaction_hash))
    else buf0
    val withRoot = if (t.is_root && t.root.isDefined) {
      val cand = t.root.get
      buf.copy(root = Some(buf.root.fold(cand)(TraceOps.betterRoot(_, cand))))
    } else buf
    (t.from_address, t.to_address) match {
      case (Some(from), Some(to)) =>
        // reference: trace_tree.rs:249-257 — input=None still records
        // the zero selector via unwrap_or_default
        val sig = t.sig.getOrElse(Addresses.ZeroSelector)
        val sigs = withRoot.sigTree.getOrElse(to, Seq.empty)
        val sigTree =
          if (sigs.contains(sig)) withRoot.sigTree
          else withRoot.sigTree.updated(to, sigs :+ sig)
        val callTree = withRoot.callTree.updatedWith(to) { m =>
          val inner = m.getOrElse(Map.empty)
          Some(inner.updated(from, inner.getOrElse(from, 0L) + 1L))
        }
        val gasTree = withRoot.gasTree.updatedWith(from) { m =>
          val inner = m.getOrElse(Map.empty)
          Some(inner.updated(to, inner.getOrElse(to, 0L) + t.gas_used))
        }
        val pairSizes =
          if (to == Addresses.EcPairing)
            withRoot.pairSizes.updatedWith(from) { s =>
              Some(s.getOrElse(Seq.empty) :+ t.pair_len)
            }
          else withRoot.pairSizes
        val recoverAddrs = t.recovered match {
          case Some(a) if !withRoot.recoverAddrs.contains(a) =>
            withRoot.recoverAddrs :+ a
          case _ => withRoot.recoverAddrs
        }
        withRoot.copy(callTree = callTree, gasTree = gasTree,
          sigTree = sigTree, pairSizes = pairSizes, recoverAddrs = recoverAddrs)
      case _ => withRoot
    }
  }

  override def merge(a: TreeBuf, b: TreeBuf): TreeBuf = TreeBuf(
    chainId = a.chainId.orElse(b.chainId),
    txHash = a.txHash.orElse(b.txHash),
    callTree = TreeBuf.mergeCounts(a.callTree, b.callTree),
    gasTree = TreeBuf.mergeCounts(a.gasTree, b.gasTree),
    sigTree = b.sigTree.foldLeft(a.sigTree) { case (acc, (k, v)) =>
      acc.updated(k, (acc.getOrElse(k, Seq.empty) ++ v).distinct)
    },
    pairSizes = b.pairSizes.foldLeft(a.pairSizes) { case (acc, (k, v)) =>
      acc.updated(k, acc.getOrElse(k, Seq.empty) ++ v)
    },
    recoverAddrs = (a.recoverAddrs ++ b.recoverAddrs).distinct,
    root = (a.root, b.root) match {
      case (Some(x), Some(y)) => Some(TraceOps.betterRoot(x, y))
      case (x, y) => x.orElse(y)
    },
  )

  override def finish(buf: TreeBuf): TxCommit =
    TraceTreeAggregator.commit(buf, buf.chainId.getOrElse(-1L), buf.txHash.orNull)

  override def bufferEncoder: Encoder[TreeBuf] = TraceTreeAggregator.bufEncoder
  override def outputEncoder: Encoder[TxCommit] = TraceTreeAggregator.commitEncoder
}

object TraceTreeAggregator {
  import TraceOps._

  // built once per JVM: `Encoders.product` reflects over the case class
  // on every call, and each task's copy of the aggregation asks for both
  private val bufEncoder: Encoder[TreeBuf] = Encoders.product[TreeBuf]
  private val commitEncoder: Encoder[TxCommit] = Encoders.product[TxCommit]

  /** The reference's `commit` (trace_tree.rs:72-245) over a completed
    * per-tx buffer. Returns no transaction when the commit filter
    * fails (no call to ecRecover/ecPairing) or the root trace is
    * missing any of hash/index/from/to.
    */
  def commit(buf: TreeBuf, chainId: Long, txHash: String): TxCommit = {
    val commitFilter = buf.callTree.contains(Addresses.EcRecover) ||
      buf.callTree.contains(Addresses.EcPairing)
    val rootOk = buf.root.exists(r =>
      r.transaction_index.isDefined && r.from_address.isDefined && r.to_address.isDefined)
    if (!commitFilter || !rootOk || txHash == null) return TxCommit(None, Seq.empty)
    val root = buf.root.get

    // J2: first-degree callers -> set of filter precompiles they called
    // (reference: trace_tree.rs:91-100)
    val firstDegree: Map[String, Seq[String]] =
      Addresses.FirstDegreeFilter.flatMap { p =>
        buf.callTree.getOrElse(p, Map.empty).keys.map(_ -> p)
      }.groupBy(_._1).map { case (a, ps) => a -> ps.map(_._2).distinct }

    // J3: second-degree callers -> set of first-degree addrs they
    // called, minus the EOA (reference: trace_tree.rs:102-112)
    val secondDegree: Map[String, Seq[String]] =
      firstDegree.keys.flatMap { fd =>
        buf.callTree.getOrElse(fd, Map.empty).keys.map(_ -> fd)
      }.toSeq.groupBy(_._1).map { case (a, fds) => a -> fds.map(_._2).distinct } -
        root.from_address.get

    def precompileCount(p: String, a: String): Long =
      buf.callTree.getOrElse(p, Map.empty).getOrElse(a, 0L)

    // J4 degree-tagged union + J5 enrichment
    // (reference: trace_tree.rs:115-163); an address in both degrees
    // yields two rows — quirk preserved
    val contracts = (firstDegree.toSeq.map(t => (t, 0)) ++
      secondDegree.toSeq.map(t => (t, 1))).map { case ((a, call), degree) =>
      ContractOut(
        chain_id = chainId,
        address = a,
        function_signatures = buf.sigTree.getOrElse(a, Seq.empty).sorted,
        degree = degree,
        ec_recover_count = precompileCount(Addresses.EcRecover, a),
        ec_add_count = precompileCount(Addresses.EcAdd, a),
        ec_mul_count = precompileCount(Addresses.EcMul, a),
        ec_pairing_count = precompileCount(Addresses.EcPairing, a),
        ec_pairing_input_sizes = buf.pairSizes.getOrElse(a, Seq.empty).sorted,
        call = call.sorted,
      )
    }.sortBy(c => (c.degree, c.address))

    // A9: per-degree gas = ALL outgoing gas of the degree's callers,
    // not only gas toward precompiles (reference: trace_tree.rs:165-175)
    // iterator, not Set.flatMap — a set would collapse equal gas values
    def degreeGas(addrs: Iterable[String]): Long =
      addrs.iterator.flatMap(a => buf.gasTree.getOrElse(a, Map.empty).valuesIterator).sum

    val tx = TransactionOut(
      chain_id = chainId,
      transaction_hash = txHash,
      from_address = root.from_address.get,
      to_address = root.to_address.get,
      // J6 (reference: trace_tree.rs:180-187)
      closest_address =
        (if (secondDegree.nonEmpty) secondDegree.keys else firstDegree.keys).toSeq.sorted,
      // tx-level selector is NOT precompile-masked
      // (reference: trace_tree.rs:189-194 uses construct_signature)
      function_signature = root.input.map(selector).getOrElse(Addresses.ZeroSelector),
      transaction_index = root.transaction_index.get,
      block_number = root.block_number,
      block_timestamp = root.block_timestamp,
      block_hash = root.block_hash,
      value = root.value.getOrElse("0"),
      input = root.input.getOrElse("0x"),
      gas_used_total = root.gas_used.getOrElse(0L),
      gas_used_first_degree = degreeGas(firstDegree.keys),
      gas_used_second_degree = degreeGas(secondDegree.keys),
      ec_recover_count = buf.callTree.getOrElse(Addresses.EcRecover, Map.empty).values.sum,
      ec_add_count = buf.callTree.getOrElse(Addresses.EcAdd, Map.empty).values.sum,
      ec_mul_count = buf.callTree.getOrElse(Addresses.EcMul, Map.empty).values.sum,
      ec_pairing_count = buf.callTree.getOrElse(Addresses.EcPairing, Map.empty).values.sum,
      ec_pairing_input_sizes = buf.pairSizes.values.flatten.toSeq.sorted,
      ec_recover_addresses = buf.recoverAddrs.sorted,
      error = root.error,
    )
    TxCommit(Some(tx), contracts)
  }
}

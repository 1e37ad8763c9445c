package graft.perfbench

import graft.operators.TraceEtl
import graft.sinks.Tables
import graft.sources.Ingest
import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The sink contents a drain must leave, computed by the batch path
  * (`TraceEtl.transform`) over the clean corpus and rendered as
  * `App.sinkCommits` renders it.
  *
  * Transactions are compared whole. A contract row's non-key columns
  * depend on which transaction first inserted its key (the sink's
  * conflict policy is DO NOTHING and `dedupContracts` keeps an
  * arbitrary duplicate), so contracts are compared by key set, and
  * every stored row must be one of the rows the corpus yields for its key.
  */
case class Expected(txRows: Seq[String], txHash: String, contractKeys: Set[String],
    contractCandidates: Set[String])

/** What a drained sink got wrong (`problems` empty = correct), and how
  * many expected rows it lacks: transactions plus contract keys.
  */
case class Verdict(problems: Seq[String], lostRows: Long)

object Check {

  /** One row as a string: NUL-separated columns, null as the NULL marker. */
  def line(cols: Seq[String]): String =
    cols.map(c => if (c == null) "\\N" else c).mkString("\u0000")

  /** Order-independent content hash: SHA-256 over the sorted rows. */
  def hash(rows: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private val contractKeyIdx = Tables.contracts.conflictKeys.map(Tables.contractColumns.indexOf)
  def contractKey(row: String): String = {
    val cols = row.split("\u0000", -1)
    contractKeyIdx.map(cols(_)).mkString("\u0000")
  }

  /** App.sinkCommits's rendering: EIP-55 addresses, comma-joined arrays. */
  def render(txs: DataFrame, contracts: DataFrame): (DataFrame, DataFrame) = {
    def joinArrays(df: DataFrame, cols: Seq[String]) =
      cols.foldLeft(df)((d, c) => d.withColumn(c, concat_ws(",", col(c))))
    (joinArrays(Tables.renderChecksummed(txs, Seq("from_address", "to_address"),
        Seq("closest_address", "ec_recover_addresses")),
        Seq("closest_address", "ec_recover_addresses", "ec_pairing_input_sizes")),
      joinArrays(Tables.renderChecksummed(contracts, Seq("address"), Seq.empty),
        Seq("function_signatures", "ec_pairing_input_sizes", "call")))
  }

  private def collectLines(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.select(cols.map(c => col(c).cast("string")): _*).collect().toSeq
      .map(r => line((0 until cols.size).map(r.getString)))

  def expected(spark: SparkSession, staged: Staged): Expected = {
    val clean = staged.chains.map { c =>
      Ingest.decodeTraces(spark.read.text(c.clean.getPath), c.chainId)._1
    }.reduce(_ unionByName _)
    val (txs, contracts) = TraceEtl.transform(clean)
    val (txOut, contractsOut) = render(txs.toDF(), contracts.toDF())
    expectedOf(collectLines(txOut, Tables.transactionColumns),
      collectLines(contractsOut, Tables.contractColumns))
  }

  /** The expected contents given as rendered rows (see [[line]]). */
  def expectedOf(txRows: Seq[String], contractRows: Seq[String]): Expected = {
    val candidates = contractRows.toSet
    Expected(txRows, hash(txRows), candidates.map(contractKey), candidates)
  }

  /** Compare a drained sink with the expected contents. */
  def sink(db: Derby, exp: Expected): Verdict = {
    val txs = db.rows(Tables.transactions.table, Tables.transactionColumns)
    val cs = db.rows(Tables.contracts.table, Tables.contractColumns)
    val problems = Seq.newBuilder[String]
    val missingTxs = exp.txRows.toSet -- txs
    if (txs.size != exp.txRows.size || hash(txs) != exp.txHash) {
      def example(rows: Iterable[String]) = rows.headOption.fold("none")(_.replace('\u0000', '|'))
      problems += s"transactions: ${txs.size} rows, expected ${exp.txRows.size}; " +
        s"unexpected e.g. ${example(txs.toSet -- exp.txRows)}; missing ${missingTxs.size}, e.g. ${example(missingTxs)}; " +
        s"duplicated ${txs.size - txs.distinct.size}"
    }
    val keys = cs.map(contractKey)
    val missingKeys = exp.contractKeys -- keys
    if (cs.size != exp.contractKeys.size || keys.toSet != exp.contractKeys)
      problems += s"contracts: ${cs.size} rows, expected ${exp.contractKeys.size} keys, ${missingKeys.size} missing"
    cs.find(r => !exp.contractCandidates.contains(r)).foreach(r =>
      problems += s"contracts: row not produced by the corpus: ${r.replace('\u0000', '|')}")
    Verdict(problems.result(), (missingTxs.size + missingKeys.size).toLong)
  }

  /** Payloads the decode layer quarantines when it reads every delivered file. */
  def quarantined(spark: SparkSession, staged: Staged): Long =
    staged.chains.map { c =>
      Ingest.decodeTraces(spark.read.text(c.files.map(_.getPath): _*), c.chainId)._2.count()
    }.sum
}

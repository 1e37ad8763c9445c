package graft

/** DuckDB replica of the full trace-ETL pipeline (synthetic corpus +
  * commit semantics) used as the oracle for q_etl_transactions /
  * q_etl_contracts. Developed against the fused aggregator output.
  * The pipeline is written once; each oracle is that pipeline plus
  * its own final SELECT over the `transactions` or `contracts` CTE.
  */
object EtlOracleSql {
  private val pipeline: String =
    """-- DuckDB replica of the full trace-ETL pipeline over the synthetic
      |-- corpus: SyntheticTraces.fromTpch + TraceEtl commit semantics
      |-- (developed/verified against the Spark output by tools/check.py).
      |-- Placeholder __OUTPUT__ selects 'transactions' or 'contracts'.
      |WITH roots AS (
      |  SELECT
      |    1 + o_orderkey % 3 AS chain_id,
      |    printf('0x%064x', o_orderkey) AS transaction_hash,
      |    o_orderkey % 1000 AS transaction_index,
      |    printf('0x%040x', o_custkey + 1000000) AS from_address,
      |    printf('0x%040x', o_orderkey % 500 + 1000) AS to_address,
      |    CAST(CAST(o_totalprice * 100 AS DECIMAL(38,0)) AS VARCHAR) AS value,
      |    printf('0x%016x', o_orderkey * 7 + 3) AS input,
      |    CAST(NULL AS VARCHAR) AS output,
      |    CAST(trunc(o_totalprice) AS BIGINT) AS gas_used,
      |    TRUE AS is_root,
      |    CAST(o_orderkey // 100 AS BIGINT) AS block_number,
      |    1700000000 + o_orderkey AS block_timestamp,
      |    printf('0x%064x', o_orderkey // 100) AS block_hash,
      |    CASE WHEN o_orderstatus = 'F' THEN NULL
      |         WHEN o_orderkey % 97 = 0 THEN 'Reverted' END AS error
      |  FROM orders
      |),
      |calls AS (
      |  SELECT
      |    1 + l_orderkey % 3 AS chain_id,
      |    printf('0x%064x', l_orderkey) AS transaction_hash,
      |    l_orderkey % 1000 AS transaction_index,
      |    CASE WHEN l_partkey % 40 < 4 THEN printf('0x%040x', l_suppkey + 2000)
      |         ELSE printf('0x%040x', l_orderkey % 500 + 1000) END AS from_address,
      |    CASE l_partkey % 40
      |      WHEN 0 THEN '0x0000000000000000000000000000000000000001'
      |      WHEN 1 THEN '0x0000000000000000000000000000000000000008'
      |      WHEN 2 THEN '0x0000000000000000000000000000000000000006'
      |      WHEN 3 THEN '0x0000000000000000000000000000000000000007'
      |      ELSE printf('0x%040x', l_suppkey + 2000) END AS to_address,
      |    '0' AS value,
      |    CASE WHEN l_linenumber % 5 = 0 THEN '0x61626364'
      |         ELSE printf('0x%024x', CAST(trunc(l_extendedprice * 100) AS BIGINT)) END AS input,
      |    CASE WHEN l_partkey % 40 = 0 THEN
      |      CASE WHEN l_partkey % 400 = 0 THEN '0xab'
      |           ELSE printf('0x%064x', l_suppkey + 5000) END END AS output,
      |    CAST(trunc(l_quantity * 100) AS BIGINT) AS gas_used,
      |    FALSE AS is_root,
      |    CAST(l_orderkey // 100 AS BIGINT) AS block_number,
      |    1700000000 + l_orderkey AS block_timestamp,
      |    printf('0x%064x', l_orderkey // 100) AS block_hash,
      |    CAST(NULL AS VARCHAR) AS error
      |  FROM lineitem
      |),
      |traces AS (SELECT * FROM roots UNION ALL SELECT * FROM calls),
      |edges AS (
      |  SELECT chain_id, transaction_hash, from_address AS f, to_address AS t,
      |    coalesce(gas_used, 0) AS gas,
      |    -- selector masked for filter precompiles; strict > 4-byte rule
      |    CASE WHEN to_address IN ('0x0000000000000000000000000000000000000008',
      |                             '0x0000000000000000000000000000000000000001') THEN '0x00000000'
      |         WHEN input IS NULL OR (length(input) - 2) // 2 <= 4 THEN '0x00000000'
      |         ELSE '0x' || substr(input, 3, 8) END AS sig,
      |    CASE WHEN input IS NULL THEN 0
      |         ELSE (length(input) - 2) // 2 END AS input_bytes,
      |    output
      |  FROM traces
      |  WHERE from_address IS NOT NULL AND to_address IS NOT NULL
      |),
      |zk AS (
      |  SELECT DISTINCT chain_id, transaction_hash FROM edges
      |  WHERE t IN ('0x0000000000000000000000000000000000000001',
      |              '0x0000000000000000000000000000000000000008')
      |),
      |root1 AS (
      |  SELECT r.* FROM roots r JOIN zk USING (chain_id, transaction_hash)
      |  WHERE transaction_index IS NOT NULL
      |    AND from_address IS NOT NULL AND to_address IS NOT NULL
      |),
      |pruned AS (
      |  SELECT e.* FROM edges e JOIN zk USING (chain_id, transaction_hash)
      |),
      |firstdeg AS (
      |  SELECT chain_id, transaction_hash, f AS address,
      |    list_sort(list(DISTINCT t)) AS call
      |  FROM pruned
      |  WHERE t IN ('0x0000000000000000000000000000000000000001',
      |              '0x0000000000000000000000000000000000000008')
      |  GROUP BY 1, 2, 3
      |),
      |seconddeg AS (
      |  SELECT s.chain_id, s.transaction_hash, s.address, s.call
      |  FROM (
      |    SELECT e.chain_id AS chain_id, e.transaction_hash AS transaction_hash,
      |      e.f AS address, list_sort(list(DISTINCT e.t)) AS call
      |    FROM pruned e JOIN firstdeg fd
      |      ON e.chain_id = fd.chain_id AND e.transaction_hash = fd.transaction_hash
      |     AND e.t = fd.address
      |    GROUP BY 1, 2, 3
      |  ) s JOIN root1 r ON s.chain_id = r.chain_id AND s.transaction_hash = r.transaction_hash
      |  WHERE s.address <> r.from_address
      |),
      |sigtree AS (
      |  SELECT chain_id, transaction_hash, t AS address,
      |    list_sort(list(DISTINCT sig)) AS function_signatures
      |  FROM pruned GROUP BY 1, 2, 3
      |),
      |pcounts AS (
      |  SELECT chain_id, transaction_hash, f AS address,
      |    sum(CASE WHEN t = '0x0000000000000000000000000000000000000001' THEN 1 ELSE 0 END) AS ec_recover_count,
      |    sum(CASE WHEN t = '0x0000000000000000000000000000000000000006' THEN 1 ELSE 0 END) AS ec_add_count,
      |    sum(CASE WHEN t = '0x0000000000000000000000000000000000000007' THEN 1 ELSE 0 END) AS ec_mul_count,
      |    sum(CASE WHEN t = '0x0000000000000000000000000000000000000008' THEN 1 ELSE 0 END) AS ec_pairing_count
      |  FROM pruned GROUP BY 1, 2, 3
      |),
      |pairsizes AS (
      |  SELECT chain_id, transaction_hash, f AS address,
      |    list_sort(list(input_bytes)) AS ec_pairing_input_sizes
      |  FROM pruned WHERE t = '0x0000000000000000000000000000000000000008'
      |  GROUP BY 1, 2, 3
      |),
      |contracts AS (
      |  SELECT u.chain_id, u.address,
      |    coalesce(s.function_signatures, CAST([] AS VARCHAR[])) AS function_signatures,
      |    u.degree,
      |    coalesce(p.ec_recover_count, 0) AS ec_recover_count,
      |    coalesce(p.ec_add_count, 0) AS ec_add_count,
      |    coalesce(p.ec_mul_count, 0) AS ec_mul_count,
      |    coalesce(p.ec_pairing_count, 0) AS ec_pairing_count,
      |    coalesce(z.ec_pairing_input_sizes, CAST([] AS BIGINT[])) AS ec_pairing_input_sizes,
      |    u.call, u.transaction_hash
      |  FROM (
      |    SELECT chain_id, transaction_hash, address, call, 0 AS degree FROM firstdeg
      |    UNION ALL
      |    SELECT chain_id, transaction_hash, address, call, 1 AS degree FROM seconddeg
      |  ) u
      |  LEFT JOIN sigtree s ON u.chain_id = s.chain_id
      |    AND u.transaction_hash = s.transaction_hash AND u.address = s.address
      |  LEFT JOIN pcounts p ON u.chain_id = p.chain_id
      |    AND u.transaction_hash = p.transaction_hash AND u.address = p.address
      |  LEFT JOIN pairsizes z ON u.chain_id = z.chain_id
      |    AND u.transaction_hash = z.transaction_hash AND u.address = z.address
      |),
      |outgas AS (
      |  SELECT chain_id, transaction_hash, f AS address, sum(gas) AS out_gas
      |  FROM pruned GROUP BY 1, 2, 3
      |),
      |firstgas AS (
      |  SELECT d.chain_id, d.transaction_hash, coalesce(sum(o.out_gas), 0) AS gas_used_first_degree
      |  FROM firstdeg d LEFT JOIN outgas o ON d.chain_id = o.chain_id
      |    AND d.transaction_hash = o.transaction_hash AND d.address = o.address
      |  GROUP BY 1, 2
      |),
      |secondgas AS (
      |  SELECT d.chain_id, d.transaction_hash, coalesce(sum(o.out_gas), 0) AS gas_used_second_degree
      |  FROM seconddeg d LEFT JOIN outgas o ON d.chain_id = o.chain_id
      |    AND d.transaction_hash = o.transaction_hash AND d.address = o.address
      |  GROUP BY 1, 2
      |),
      |firstaddrs AS (
      |  SELECT chain_id, transaction_hash, list_sort(list(DISTINCT address)) AS first_addrs
      |  FROM firstdeg GROUP BY 1, 2
      |),
      |secondaddrs AS (
      |  SELECT chain_id, transaction_hash, list_sort(list(DISTINCT address)) AS second_addrs
      |  FROM seconddeg GROUP BY 1, 2
      |),
      |txaggs AS (
      |  SELECT chain_id, transaction_hash,
      |    sum(CASE WHEN t = '0x0000000000000000000000000000000000000001' THEN 1 ELSE 0 END) AS ec_recover_count,
      |    sum(CASE WHEN t = '0x0000000000000000000000000000000000000006' THEN 1 ELSE 0 END) AS ec_add_count,
      |    sum(CASE WHEN t = '0x0000000000000000000000000000000000000007' THEN 1 ELSE 0 END) AS ec_mul_count,
      |    sum(CASE WHEN t = '0x0000000000000000000000000000000000000008' THEN 1 ELSE 0 END) AS ec_pairing_count,
      |    list_sort(list(input_bytes) FILTER (t = '0x0000000000000000000000000000000000000008'))
      |      AS ec_pairing_input_sizes,
      |    list_sort(list(DISTINCT
      |      CASE WHEN (length(output) - 2) // 2 < 32
      |           THEN '0x0000000000000000000000000000000000000000'
      |           ELSE '0x' || substr(output, 27, 40) END)
      |      FILTER (t = '0x0000000000000000000000000000000000000001' AND output IS NOT NULL))
      |      AS ec_recover_addresses
      |  FROM pruned GROUP BY 1, 2
      |),
      |transactions AS (
      |  SELECT r.chain_id, r.transaction_hash, r.from_address, r.to_address,
      |    CASE WHEN len(coalesce(sa.second_addrs, CAST([] AS VARCHAR[]))) > 0
      |         THEN sa.second_addrs ELSE coalesce(fa.first_addrs, CAST([] AS VARCHAR[])) END
      |      AS closest_address,
      |    CASE WHEN r.input IS NULL OR (length(r.input) - 2) // 2 <= 4 THEN '0x00000000'
      |         ELSE '0x' || substr(r.input, 3, 8) END AS function_signature,
      |    r.transaction_index, r.block_number, r.block_timestamp, r.block_hash,
      |    coalesce(r.value, '0') AS value,
      |    coalesce(r.input, '0x') AS input,
      |    coalesce(r.gas_used, 0) AS gas_used_total,
      |    coalesce(fg.gas_used_first_degree, 0) AS gas_used_first_degree,
      |    coalesce(sg.gas_used_second_degree, 0) AS gas_used_second_degree,
      |    coalesce(ta.ec_recover_count, 0) AS ec_recover_count,
      |    coalesce(ta.ec_add_count, 0) AS ec_add_count,
      |    coalesce(ta.ec_mul_count, 0) AS ec_mul_count,
      |    coalesce(ta.ec_pairing_count, 0) AS ec_pairing_count,
      |    coalesce(ta.ec_pairing_input_sizes, CAST([] AS BIGINT[])) AS ec_pairing_input_sizes,
      |    coalesce(ta.ec_recover_addresses, CAST([] AS VARCHAR[])) AS ec_recover_addresses,
      |    r.error
      |  FROM root1 r
      |  LEFT JOIN txaggs ta USING (chain_id, transaction_hash)
      |  LEFT JOIN firstgas fg USING (chain_id, transaction_hash)
      |  LEFT JOIN secondgas sg USING (chain_id, transaction_hash)
      |  LEFT JOIN firstaddrs fa USING (chain_id, transaction_hash)
      |  LEFT JOIN secondaddrs sa USING (chain_id, transaction_hash)
      |)
      |-- scalar verify surface: arrays → CSV, aggregates → BIGINT
      |""".stripMargin

  val transactions: String = pipeline +
    """-- (pandas can't sort ndarray cells; DuckDB SUM surfaces as float64)
      |SELECT chain_id, transaction_hash, from_address, to_address,
      |  coalesce(array_to_string(closest_address, ','), '') AS closest_address,
      |  function_signature, CAST(transaction_index AS INT) AS transaction_index,
      |  block_number, block_timestamp, block_hash,
      |  value, input,
      |  CAST(gas_used_total AS BIGINT) AS gas_used_total,
      |  CAST(gas_used_first_degree AS BIGINT) AS gas_used_first_degree,
      |  CAST(gas_used_second_degree AS BIGINT) AS gas_used_second_degree,
      |  CAST(ec_recover_count AS BIGINT) AS ec_recover_count,
      |  CAST(ec_add_count AS BIGINT) AS ec_add_count,
      |  CAST(ec_mul_count AS BIGINT) AS ec_mul_count,
      |  CAST(ec_pairing_count AS BIGINT) AS ec_pairing_count,
      |  coalesce(array_to_string(ec_pairing_input_sizes, ','), '') AS ec_pairing_input_sizes,
      |  coalesce(array_to_string(ec_recover_addresses, ','), '') AS ec_recover_addresses,
      |  error
      |FROM transactions""".stripMargin

  val contracts: String = pipeline +
    """SELECT chain_id, address,
      |  coalesce(array_to_string(function_signatures, ','), '') AS function_signatures,
      |  degree,
      |  CAST(ec_recover_count AS BIGINT) AS ec_recover_count,
      |  CAST(ec_add_count AS BIGINT) AS ec_add_count,
      |  CAST(ec_mul_count AS BIGINT) AS ec_mul_count,
      |  CAST(ec_pairing_count AS BIGINT) AS ec_pairing_count,
      |  coalesce(array_to_string(ec_pairing_input_sizes, ','), '') AS ec_pairing_input_sizes,
      |  coalesce(array_to_string(call, ','), '') AS call
      |FROM contracts""".stripMargin
}

import java.sql.Connection;
import java.sql.DriverManager;
import java.sql.PreparedStatement;
import java.sql.ResultSet;
import java.sql.SQLException;
import java.util.HashSet;
import java.util.Map;
import java.util.Set;
import java.util.TreeMap;
import java.util.concurrent.CountDownLatch;

/**
 * Concurrent MERGEs into in-memory Derby, in JdbcUpsert's statement shape
 * (MERGE ... USING SYSIBM.SYSDUMMY1 ... WHEN NOT MATCHED THEN INSERT, one
 * batch and one transaction per connection). Each round creates an empty
 * table, lets `threads` connections upsert `keys` distinct 66-character
 * keys each at once, and checks that every committed key is there exactly
 * once. Nothing interrupts the threads.
 *
 *   java -cp derby.jar:derbyshared.jar perfbench/probe/DerbyMergeProbe.java \
 *     <rounds> <keys> <threads> <cache|nocache>
 *
 * `nocache` sets derby.language.statementCacheSize=0, as the benchmark does.
 * Exits 2 on a round whose threads do not finish within 30 s.
 */
public class DerbyMergeProbe {

  static String key(int thread, int i, int round) {
    StringBuilder s = new StringBuilder(String.format("0x%08x%08x%08x", thread, i, round));
    while (s.length() < 66) s.append('a');
    return s.toString();
  }

  public static void main(String[] args) throws Exception {
    int rounds = Integer.parseInt(args[0]);
    int keys = Integer.parseInt(args[1]);
    int threads = Integer.parseInt(args[2]);
    if (args[3].equals("nocache")) System.setProperty("derby.language.statementCacheSize", "0");
    String url = "jdbc:derby:memory:probe;create=true";
    Map<String, Integer> errors = new TreeMap<>();
    int lost = 0, duplicated = 0, failedTx = 0;
    for (int round = 0; round < rounds; round++) {
      String table = "t" + round;
      try (Connection c = DriverManager.getConnection(url)) {
        c.createStatement().execute("CREATE TABLE " + table + " (\"chain_id\" BIGINT, "
            + "\"transaction_hash\" VARCHAR(2000), \"payload\" VARCHAR(2000), "
            + "PRIMARY KEY (\"chain_id\", \"transaction_hash\"))");
      }
      String sql = "MERGE INTO " + table + " t USING SYSIBM.SYSDUMMY1 "
          + "ON t.\"chain_id\" = ? AND t.\"transaction_hash\" = ? "
          + "WHEN NOT MATCHED THEN INSERT (\"chain_id\", \"transaction_hash\", \"payload\") "
          + "VALUES (?, ?, ?)";
      int r = round;
      boolean[] committed = new boolean[threads];
      CountDownLatch go = new CountDownLatch(1);
      Thread[] ts = new Thread[threads];
      for (int t = 0; t < threads; t++) {
        int th = t;
        ts[t] = new Thread(() -> {
          Connection conn = null;
          try {
            go.await();
            conn = DriverManager.getConnection(url);
            conn.setAutoCommit(false);
            PreparedStatement st = conn.prepareStatement(sql);
            for (int i = 0; i < keys; i++) {
              String k = key(th, i, r);
              st.setObject(1, 1L);
              st.setObject(2, k);
              st.setObject(3, 1L);
              st.setObject(4, k);
              st.setObject(5, "payload " + k);
              st.addBatch();
            }
            st.executeBatch();
            conn.commit();
            st.close();
            committed[th] = true;
          } catch (Exception e) {
            String state = e instanceof SQLException ? ((SQLException) e).getSQLState() : "";
            String msg = String.valueOf(e.getMessage()).split("\n")[0];
            synchronized (errors) {
              errors.merge(state + " " + msg.substring(0, Math.min(60, msg.length())), 1, Integer::sum);
            }
          } finally {
            if (conn != null) {
              try { if (!committed[th]) conn.rollback(); } catch (SQLException e) { }
              try { conn.close(); } catch (SQLException e) { }
            }
          }
        });
        ts[t].start();
      }
      go.countDown();
      for (Thread t : ts) {
        t.join(30000);
        if (t.isAlive()) {
          System.out.println("round " + round + ": threads still running after 30 s (hang)");
          System.exit(2);
        }
      }
      try (Connection c = DriverManager.getConnection(url)) {
        ResultSet rs = c.createStatement().executeQuery("SELECT \"transaction_hash\" FROM " + table);
        Set<String> seen = new HashSet<>();
        while (rs.next()) if (!seen.add(rs.getString(1))) duplicated++;
        rs.close();
        for (int t = 0; t < threads; t++) {
          if (!committed[t]) { failedTx++; continue; }
          for (int i = 0; i < keys; i++) {
            if (!seen.contains(key(t, i, round))) {
              lost++;
              System.out.println("round " + round + ": committed key of thread " + t + " missing");
            }
          }
        }
        c.createStatement().execute("DROP TABLE " + table);
      }
    }
    System.out.println(args[3] + ": " + rounds + " rounds, " + failedTx + " failed transactions, "
        + lost + " committed rows lost, " + duplicated + " duplicated; errors " + errors);
  }
}

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.permission.FsAction;
import java.nio.file.Files;
import java.nio.file.Paths;
import java.nio.file.attribute.PosixFileAttributes;
import java.util.*;
import java.util.concurrent.*;

/** BFS-list the benchmark's tree shape (1+3+6+12+24 dirs, 120 files) with
 *  Hadoop's local file system, then probe every file: none, fs.access, or
 *  Files.readAttributes(PosixFileAttributes), probes on a 4-thread pool. */
public class ProbeBench {
  public static void main(String[] a) throws Exception {
    java.nio.file.Path root = Files.createTempDirectory("probebench");
    List<java.nio.file.Path> dirs = new ArrayList<>(); dirs.add(root);
    List<java.nio.file.Path> level = List.of(root);
    for (int b : new int[]{3, 2, 2, 2}) {
      List<java.nio.file.Path> next = new ArrayList<>();
      for (java.nio.file.Path p : level) for (int j = 0; j < b; j++) next.add(p.resolve("d" + j));
      dirs.addAll(next); level = next;
    }
    for (java.nio.file.Path d : dirs) Files.createDirectories(d);
    for (int i = 0; i < 120; i++) Files.writeString(dirs.get(i % dirs.size()).resolve("f" + i + ".json"), "{\"data\": 1}\n");
    org.apache.hadoop.fs.FileSystem fs = new org.apache.hadoop.fs.Path(root.toString()).getFileSystem(new Configuration());
    ExecutorService pool = Executors.newFixedThreadPool(4);
    String[] modes = {"list", "access", "stat"};
    Map<String, List<Double>> ms = new LinkedHashMap<>();
    for (String m : modes) ms.put(m, new ArrayList<>());
    for (int rep = 0; rep < 25; rep++) for (String m : modes) {
      long t0 = System.nanoTime();
      List<Future<Boolean>> probes = new ArrayList<>();
      List<org.apache.hadoop.fs.Path> frontier = List.of(new org.apache.hadoop.fs.Path(root.toString()));
      int files = 0;
      while (!frontier.isEmpty()) {
        List<org.apache.hadoop.fs.Path> next = new ArrayList<>();
        for (org.apache.hadoop.fs.Path d : frontier) for (FileStatus st : fs.listStatus(d)) {
          if (st.isDirectory()) next.add(st.getPath());
          else {
            files++;
            if (m.equals("access")) probes.add(pool.submit(() -> { fs.access(st.getPath(), FsAction.READ); return true; }));
            else if (m.equals("stat")) probes.add(pool.submit(() -> Files.readAttributes(Paths.get(st.getPath().toUri().getPath()), PosixFileAttributes.class).permissions() != null));
          }
        }
        frontier = next;
      }
      for (Future<Boolean> f : probes) f.get();
      if (files != 120) throw new IllegalStateException("files " + files);
      if (rep >= 5) ms.get(m).add((System.nanoTime() - t0) / 1e6);
    }
    pool.shutdown();
    for (String m : modes) {
      List<Double> v = ms.get(m); Collections.sort(v);
      System.out.printf("%-7s n=%d  min %.1f  p25 %.1f  median %.1f  p75 %.1f  max %.1f ms%n", m, v.size(), v.get(0), v.get(v.size() / 4), v.get(v.size() / 2), v.get(3 * v.size() / 4), v.get(v.size() - 1));
    }
  }
}

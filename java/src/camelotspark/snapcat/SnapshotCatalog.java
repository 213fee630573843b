/*
 * SnapshotCatalog: a minimal Spark DataSource V2 TableCatalog whose
 * every batch append commits exactly ONE atomic snapshot — the
 * sandbox stand-in for an Iceberg catalog (no network, so the
 * iceberg-spark-runtime jar is unobtainable here; see BASELINE.md).
 *
 * Why this exists: the north_rule requires "Iceberg snapshot
 * checkpoints", and camelot_spark.pipeline.run_extraction drives the
 * catalog branch through spark.writeTo(table).append()/create(). With
 * only the v1 session catalog available, that code path silently fell
 * back to the v1 writer and NO test would fail if the DSv2 commit
 * stopped producing snapshots. This catalog closes that hole: the
 * commit protocol (versioned manifest published via an atomic
 * hard-link, optimistic-concurrency retry, parent chain, per-commit
 * metrics) is byte-compatible with camelot_spark/snapshots.py's
 * SnapshotLog, so the Python tests assert real snapshot ids produced
 * by Spark's own V2 write exec path.
 *
 * Storage: each task writer serializes rows as length-prefixed
 * UnsafeRow buffers (schema-agnostic: nested arrays/structs ride in
 * the row's byte region) into a per-commit data directory; the commit
 * publishes _snapshots/v{N}.json listing all live data dirs. Readers
 * resolve the latest committed manifest — snapshot isolation, exactly
 * like the Python SnapshotLog and (by design) like Iceberg's
 * metadata-log. A real deployment swaps this catalog for Iceberg with
 * zero changes to run_extraction.
 */
package camelotspark.snapcat;

import java.io.BufferedInputStream;
import java.io.BufferedOutputStream;
import java.io.DataInputStream;
import java.io.DataOutputStream;
import java.io.EOFException;
import java.io.File;
import java.io.FileInputStream;
import java.io.FileOutputStream;
import java.io.IOException;
import java.io.UncheckedIOException;
import java.nio.charset.StandardCharsets;
import java.nio.file.FileAlreadyExistsException;
import java.nio.file.Files;
import java.nio.file.Path;
import java.nio.file.Paths;
import java.util.ArrayList;
import java.util.Arrays;
import java.util.Collections;
import java.util.EnumSet;
import java.util.HashMap;
import java.util.List;
import java.util.Map;
import java.util.Set;
import java.util.UUID;

import org.apache.spark.sql.catalyst.InternalRow;
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException;
import org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException;
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection;
import org.apache.spark.sql.catalyst.expressions.UnsafeRow;
import org.apache.spark.sql.connector.catalog.Identifier;
import org.apache.spark.sql.connector.catalog.SupportsRead;
import org.apache.spark.sql.connector.catalog.SupportsWrite;
import org.apache.spark.sql.connector.catalog.Table;
import org.apache.spark.sql.connector.catalog.TableCapability;
import org.apache.spark.sql.connector.catalog.TableCatalog;
import org.apache.spark.sql.connector.catalog.TableChange;
import org.apache.spark.sql.connector.expressions.Transform;
import org.apache.spark.sql.connector.read.Batch;
import org.apache.spark.sql.connector.read.InputPartition;
import org.apache.spark.sql.connector.read.PartitionReader;
import org.apache.spark.sql.connector.read.PartitionReaderFactory;
import org.apache.spark.sql.connector.read.Scan;
import org.apache.spark.sql.connector.read.ScanBuilder;
import org.apache.spark.sql.connector.write.BatchWrite;
import org.apache.spark.sql.connector.write.DataWriter;
import org.apache.spark.sql.connector.write.DataWriterFactory;
import org.apache.spark.sql.connector.write.LogicalWriteInfo;
import org.apache.spark.sql.connector.write.PhysicalWriteInfo;
import org.apache.spark.sql.connector.write.Write;
import org.apache.spark.sql.connector.write.SupportsTruncate;
import org.apache.spark.sql.connector.write.WriteBuilder;
import org.apache.spark.sql.connector.write.WriterCommitMessage;
import org.apache.spark.sql.types.DataType;
import org.apache.spark.sql.types.StructType;
import org.apache.spark.sql.util.CaseInsensitiveStringMap;

public class SnapshotCatalog implements TableCatalog {
  private String catalogName;
  private Path warehouse;

  @Override
  public void initialize(String name, CaseInsensitiveStringMap options) {
    this.catalogName = name;
    String wh = options.get("warehouse");
    if (wh == null) {
      throw new IllegalArgumentException(
          "SnapshotCatalog requires spark.sql.catalog." + name + ".warehouse");
    }
    this.warehouse = Paths.get(wh);
  }

  @Override
  public String name() {
    return catalogName;
  }

  private Path tableDir(Identifier ident) {
    Path p = warehouse;
    for (String ns : ident.namespace()) {
      p = p.resolve(ns);
    }
    return p.resolve(ident.name());
  }

  @Override
  public Identifier[] listTables(String[] namespace) {
    Path p = warehouse;
    for (String ns : namespace) {
      p = p.resolve(ns);
    }
    File[] children = p.toFile().listFiles(File::isDirectory);
    if (children == null) {
      return new Identifier[0];
    }
    List<Identifier> out = new ArrayList<>();
    for (File c : children) {
      if (new File(c, "_meta/schema.json").isFile()) {
        out.add(Identifier.of(namespace, c.getName()));
      }
    }
    return out.toArray(new Identifier[0]);
  }

  @Override
  public Table loadTable(Identifier ident) throws NoSuchTableException {
    Path dir = tableDir(ident);
    Path schemaFile = dir.resolve("_meta").resolve("schema.json");
    if (!Files.isRegularFile(schemaFile)) {
      throw new NoSuchTableException(ident);
    }
    try {
      String json = new String(Files.readAllBytes(schemaFile), StandardCharsets.UTF_8);
      StructType schema =
          (StructType) org.apache.spark.sql.types.DataType$.MODULE$.fromJson(json);
      return new SnapTable(ident.toString(), dir, schema);
    } catch (IOException e) {
      throw new UncheckedIOException(e);
    }
  }

  @Override
  public Table createTable(
      Identifier ident, StructType schema, Transform[] partitions, Map<String, String> props)
      throws TableAlreadyExistsException {
    Path dir = tableDir(ident);
    Path schemaFile = dir.resolve("_meta").resolve("schema.json");
    try {
      Files.createDirectories(schemaFile.getParent());
      Files.write(schemaFile, schema.json().getBytes(StandardCharsets.UTF_8),
          java.nio.file.StandardOpenOption.CREATE_NEW);
    } catch (FileAlreadyExistsException e) {
      throw new TableAlreadyExistsException(ident);
    } catch (IOException e) {
      throw new UncheckedIOException(e);
    }
    return new SnapTable(ident.toString(), dir, schema);
  }

  /**
   * Schema evolution, Iceberg-style: ADD COLUMN only (data stays
   * append-only). Before the new schema is published, every existing
   * data directory that lacks a {@code _schema.json} sidecar is
   * stamped with the CURRENT schema — by induction, an unstamped dir
   * was always written under the schema current at stamp time — so
   * readers can reconstruct each file's write-time row layout and
   * null-fill the added columns for old files.
   */
  @Override
  public Table alterTable(Identifier ident, TableChange... changes) {
    Path dir = tableDir(ident);
    Path schemaFile = dir.resolve("_meta").resolve("schema.json");
    if (!Files.isRegularFile(schemaFile)) {
      throw new IllegalArgumentException("no such table: " + ident);
    }
    try {
      String json = new String(Files.readAllBytes(schemaFile), StandardCharsets.UTF_8);
      StructType schema =
          (StructType) org.apache.spark.sql.types.DataType$.MODULE$.fromJson(json);
      StructType next = schema;
      for (TableChange change : changes) {
        if (change instanceof TableChange.AddColumn) {
          TableChange.AddColumn add = (TableChange.AddColumn) change;
          // added columns must be nullable: existing rows have no value
          next = addField(next, add.fieldNames(), 0, add.dataType());
        } else if (change instanceof TableChange.UpdateColumnType) {
          TableChange.UpdateColumnType upd = (TableChange.UpdateColumnType) change;
          next = widenField(next, upd.fieldNames(), 0, upd.newDataType());
        } else {
          throw new UnsupportedOperationException(
              "SnapshotCatalog schema evolution supports ADD COLUMN and type "
                  + "widening (ALTER COLUMN TYPE) only, got "
                  + change.getClass().getSimpleName());
        }
      }
      stampUnversionedDataDirs(dir, json);
      Files.write(schemaFile, next.json().getBytes(StandardCharsets.UTF_8));
      return new SnapTable(ident.toString(), dir, next);
    } catch (IOException e) {
      throw new UncheckedIOException(e);
    }
  }

  /** Recursive ADD COLUMN: a dotted field path adds a nullable field
   *  inside nested struct columns (Iceberg-style nested evolution). */
  private static StructType addField(StructType schema, String[] names, int depth,
      org.apache.spark.sql.types.DataType type) {
    if (depth == names.length - 1) {
      return schema.add(names[depth], type, true);
    }
    int idx = schema.fieldIndex(names[depth]);
    org.apache.spark.sql.types.StructField f = schema.fields()[idx];
    if (!(f.dataType() instanceof StructType)) {
      throw new IllegalArgumentException(
          "cannot add nested field under non-struct column " + names[depth]);
    }
    StructType inner = addField((StructType) f.dataType(), names, depth + 1, type);
    org.apache.spark.sql.types.StructField[] fields = schema.fields().clone();
    fields[idx] = new org.apache.spark.sql.types.StructField(
        f.name(), inner, f.nullable(), f.metadata());
    return new StructType(fields);
  }

  /** Promotion lattice for lossless type widening: byte → short →
   *  int → long, float → double. Anything else is rejected — data
   *  files are immutable, so only reads that cannot lose information
   *  may reinterpret them. */
  private static boolean isLosslessWidening(
      org.apache.spark.sql.types.DataType from, org.apache.spark.sql.types.DataType to) {
    java.util.List<String> ints = java.util.Arrays.asList("byte", "short", "integer", "long");
    int fi = ints.indexOf(from.typeName());
    int ti = ints.indexOf(to.typeName());
    if (fi >= 0 && ti >= 0) {
      return fi <= ti;
    }
    return from.typeName().equals("float") && to.typeName().equals("double");
  }

  private static StructType widenField(StructType schema, String[] names, int depth,
      org.apache.spark.sql.types.DataType type) {
    int idx = schema.fieldIndex(names[depth]);
    org.apache.spark.sql.types.StructField f = schema.fields()[idx];
    org.apache.spark.sql.types.StructField[] fields = schema.fields().clone();
    if (depth == names.length - 1) {
      if (!isLosslessWidening(f.dataType(), type)) {
        throw new UnsupportedOperationException(
            "unsupported type change " + f.dataType().simpleString() + " -> "
                + type.simpleString() + " for column " + f.name()
                + " (only lossless widening: byte/short/int -> long, float -> double)");
      }
      fields[idx] = new org.apache.spark.sql.types.StructField(
          f.name(), type, f.nullable(), f.metadata());
    } else {
      if (!(f.dataType() instanceof StructType)) {
        throw new IllegalArgumentException(
            "cannot widen nested field under non-struct column " + names[depth]);
      }
      fields[idx] = new org.apache.spark.sql.types.StructField(
          f.name(), widenField((StructType) f.dataType(), names, depth + 1, type),
          f.nullable(), f.metadata());
    }
    return new StructType(fields);
  }

  /** Write {@code _schema.json} into every data dir holding .bin files
   *  that does not declare its write-time schema yet. */
  private static void stampUnversionedDataDirs(Path tableDir, String schemaJson)
      throws IOException {
    Path dataRoot = tableDir.resolve("data");
    if (!Files.isDirectory(dataRoot)) {
      return;
    }
    try (java.util.stream.Stream<Path> walk = Files.walk(dataRoot)) {
      for (Path p : (Iterable<Path>) walk::iterator) {
        if (!Files.isDirectory(p)) {
          continue;
        }
        File[] bins = p.toFile().listFiles(f -> f.isFile() && f.getName().endsWith(".bin"));
        if (bins == null || bins.length == 0) {
          continue;
        }
        Path sidecar = p.resolve("_schema.json");
        if (!Files.exists(sidecar)) {
          Files.write(sidecar, schemaJson.getBytes(StandardCharsets.UTF_8));
        }
      }
    }
  }

  @Override
  public boolean dropTable(Identifier ident) {
    Path dir = tableDir(ident);
    if (!Files.isDirectory(dir)) {
      return false;
    }
    deleteRecursively(dir.toFile());
    return true;
  }

  private static void deleteRecursively(File f) {
    File[] children = f.listFiles();
    if (children != null) {
      for (File c : children) {
        deleteRecursively(c);
      }
    }
    f.delete();
  }

  @Override
  public void renameTable(Identifier oldIdent, Identifier newIdent) {
    throw new UnsupportedOperationException("SnapshotCatalog does not rename tables");
  }

  // ---------------------------------------------------------------- table

  static class SnapTable implements Table, SupportsRead, SupportsWrite {
    private final String tableName;
    private final Path dir;
    private final StructType tableSchema;

    SnapTable(String tableName, Path dir, StructType schema) {
      this.tableName = tableName;
      this.dir = dir;
      this.tableSchema = schema;
    }

    @Override
    public String name() {
      return tableName;
    }

    @Override
    public StructType schema() {
      return tableSchema;
    }

    @Override
    public Set<TableCapability> capabilities() {
      return Collections.unmodifiableSet(
          EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
              TableCapability.TRUNCATE));
    }

    @Override
    public ScanBuilder newScanBuilder(CaseInsensitiveStringMap options) {
      return new SnapScanBuilder(dir, tableSchema);
    }

    @Override
    public WriteBuilder newWriteBuilder(LogicalWriteInfo info) {
      final Path tableDir = dir;
      // SupportsTruncate routes INSERT OVERWRITE / overwrite(lit(true))
      // here: the commit publishes one REPLACING snapshot (new data
      // only, parent chain intact) — the write-path primitive that
      // compaction (read table -> INSERT OVERWRITE itself) rides on.
      return new SnapWriteBuilder(tableDir, info);
    }
  }

  static class SnapWriteBuilder implements WriteBuilder, SupportsTruncate {
    private final Path tableDir;
    private final LogicalWriteInfo info;
    private boolean replace = false;

    SnapWriteBuilder(Path tableDir, LogicalWriteInfo info) {
      this.tableDir = tableDir;
      this.info = info;
    }

    @Override
    public WriteBuilder truncate() {
      this.replace = true;
      return this;
    }

    @Override
    public Write build() {
      final boolean rep = replace;
      return new Write() {
        @Override
        public BatchWrite toBatch() {
          return new SnapBatchWrite(tableDir, info.schema(), rep);
        }
      };
    }
  }

  // ---------------------------------------------------------------- write

  static class SnapBatchWrite implements BatchWrite {
    private final Path tableDir;
    private final StructType schema;
    private final String dataDirRel;
    private final boolean replace;

    SnapBatchWrite(Path tableDir, StructType schema) {
      this(tableDir, schema, false);
    }

    SnapBatchWrite(Path tableDir, StructType schema, boolean replace) {
      this.tableDir = tableDir;
      this.schema = schema;
      this.replace = replace;
      this.dataDirRel = "data/snap-" + UUID.randomUUID().toString().replace("-", "");
    }

    @Override
    public DataWriterFactory createBatchWriterFactory(PhysicalWriteInfo info) {
      return new SnapWriterFactory(
          tableDir.resolve(dataDirRel).toString(), schema.json());
    }

    @Override
    public void commit(WriterCommitMessage[] messages) {
      long rows = 0;
      List<String> committed = new ArrayList<>();
      for (WriterCommitMessage m : messages) {
        if (m instanceof FileCommit) {
          rows += ((FileCommit) m).rowCount;
          if (((FileCommit) m).rowCount > 0) {
            // zero-row partitions never open their file (lazy stream)
            committed.add(dataDirRel + "/" + new File(((FileCommit) m).path).getName());
          }
        }
      }
      Map<String, Object> metrics = new HashMap<>();
      metrics.put("rows", rows);
      metrics.put("files", (long) committed.size());
      if (replace) {
        metrics.put("operation", "replace");
      }
      if (committed.isEmpty()) {
        // zero committed files: reference NO data dir — otherwise the
        // scan's legacy per-dir fallback would list the directory and
        // expose crashed-attempt orphan .bin files as committed data
        // (an empty INSERT OVERWRITE is the standard truncate idiom)
        deleteRecursively(tableDir.resolve(dataDirRel).toFile());
        ManifestLog.commit(tableDir, null, metrics, null, replace);
        return;
      }
      writeSchemaSidecar(tableDir.resolve(dataDirRel), schema);
      // record the committed FILES, not just the dir: a crashed task
      // attempt's orphan .bin in the same dir must never be scanned
      ManifestLog.commit(tableDir, dataDirRel, metrics, committed, replace);
    }

    @Override
    public void abort(WriterCommitMessage[] messages) {
      // data files are unreferenced until a manifest lands; clean the
      // orphaned commit directory
      deleteRecursively(tableDir.resolve(dataDirRel).toFile());
    }
  }

  /** Record a data dir's write-time schema so post-evolution readers
   *  can null-fill columns the dir's files never stored. */
  static void writeSchemaSidecar(Path dataDir, StructType schema) {
    try {
      Files.createDirectories(dataDir);
      Files.write(dataDir.resolve("_schema.json"),
          schema.json().getBytes(StandardCharsets.UTF_8));
    } catch (IOException e) {
      throw new UncheckedIOException(e);
    }
  }

  static class FileCommit implements WriterCommitMessage {
    final String path;
    final long rowCount;

    FileCommit(String path, long rowCount) {
      this.path = path;
      this.rowCount = rowCount;
    }
  }

  static class SnapWriterFactory implements DataWriterFactory {
    private final String dataDir;
    private final String schemaJson;

    SnapWriterFactory(String dataDir, String schemaJson) {
      this.dataDir = dataDir;
      this.schemaJson = schemaJson;
    }

    @Override
    public DataWriter<InternalRow> createWriter(int partitionId, long taskId) {
      StructType schema =
          (StructType) org.apache.spark.sql.types.DataType$.MODULE$.fromJson(schemaJson);
      return new BlobWriter(dataDir, partitionId, taskId, schema);
    }
  }

  /**
   * Length-prefixed UnsafeRow blobs: schema-agnostic row storage. Each
   * data file gets a ``.stats`` sidecar with per-column min/max for
   * long/int/string top-level fields — the file-pruning statistics the
   * scan uses to skip files a pushed filter cannot match (Iceberg's
   * per-data-file column stats, in miniature).
   */
  static class BlobWriter implements DataWriter<InternalRow> {
    private final File file;
    private final UnsafeProjection toUnsafe;
    private final StructType schema;
    private final int[] statOrdinals;
    private final Object[] mins;
    private final Object[] maxs;
    private DataOutputStream out;
    private long rows = 0;

    BlobWriter(String dataDir, int partitionId, long taskId, StructType schema) {
      new File(dataDir).mkdirs();
      this.file = new File(dataDir, "part-" + partitionId + "-" + taskId + ".bin");
      this.toUnsafe = UnsafeProjection.create(schema);
      this.schema = schema;
      List<Integer> ords = new ArrayList<>();
      for (int i = 0; i < schema.size(); i++) {
        String tn = schema.fields()[i].dataType().typeName();
        if (tn.equals("long") || tn.equals("integer") || tn.equals("string")) {
          ords.add(i);
        }
      }
      this.statOrdinals = ords.stream().mapToInt(Integer::intValue).toArray();
      this.mins = new Object[schema.size()];
      this.maxs = new Object[schema.size()];
    }

    private DataOutputStream stream() throws IOException {
      if (out == null) {
        out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(file)));
      }
      return out;
    }

    @SuppressWarnings("unchecked")
    private void trackStats(InternalRow row) {
      for (int ord : statOrdinals) {
        if (row.isNullAt(ord)) {
          continue;
        }
        String tn = schema.fields()[ord].dataType().typeName();
        Comparable<Object> v;
        if (tn.equals("long")) {
          v = (Comparable<Object>) (Object) Long.valueOf(row.getLong(ord));
        } else if (tn.equals("integer")) {
          v = (Comparable<Object>) (Object) Long.valueOf(row.getInt(ord));
        } else {
          // UTF8String compares in UTF-8 BYTE order — the order Spark
          // evaluates string predicates in. Java String.compareTo
          // (UTF-16 order) diverges beyond the BMP, which would make
          // min/max wrong and prune files that contain matching rows.
          // clone(): the row's backing buffer is reused per record.
          v = (Comparable<Object>) (Object) row.getUTF8String(ord).clone();
        }
        if (mins[ord] == null || v.compareTo(mins[ord]) < 0) {
          mins[ord] = v;
        }
        if (maxs[ord] == null || v.compareTo(maxs[ord]) > 0) {
          maxs[ord] = v;
        }
      }
    }

    @Override
    public void write(InternalRow row) throws IOException {
      UnsafeRow u = toUnsafe.apply(row);
      trackStats(row);
      byte[] bytes = u.getBytes();
      DataOutputStream s = stream();
      s.writeInt(bytes.length);
      s.write(bytes);
      rows++;
    }

    private File statsFile() {
      return new File(file.getPath() + ".stats");
    }

    private void writeStats() throws IOException {
      StringBuilder sb = new StringBuilder();
      for (int ord : statOrdinals) {
        if (mins[ord] == null) {
          continue;
        }
        String tn = schema.fields()[ord].dataType().typeName();
        String kind = tn.equals("string") ? "s" : "l";
        sb.append(java.net.URLEncoder.encode(schema.fields()[ord].name(), "UTF-8"))
            .append('\t').append(kind)
            .append('\t').append(java.net.URLEncoder.encode(mins[ord].toString(), "UTF-8"))
            .append('\t').append(java.net.URLEncoder.encode(maxs[ord].toString(), "UTF-8"))
            .append('\n');
      }
      Files.write(statsFile().toPath(), sb.toString().getBytes(StandardCharsets.UTF_8));
    }

    @Override
    public WriterCommitMessage commit() throws IOException {
      close();
      if (rows > 0) {
        writeStats();
      }
      return new FileCommit(file.getAbsolutePath(), rows);
    }

    @Override
    public void abort() throws IOException {
      close();
      file.delete();
      statsFile().delete();
    }

    @Override
    public void close() throws IOException {
      if (out != null) {
        out.close();
        out = null;
      }
    }
  }

  // ----------------------------------------------------------------- read

  /**
   * Column pruning: Catalyst pushes the required schema down, the
   * reader projects each stored UnsafeRow to just those fields — so a
   * resume anti-join over a 10^12-row table ships only doc_id, not the
   * span structs.
   */
  static class SnapScanBuilder
      implements org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns,
          org.apache.spark.sql.connector.read.SupportsPushDownFilters {
    private final Path tableDir;
    private final StructType fullSchema;
    private StructType requiredSchema;
    private org.apache.spark.sql.sources.Filter[] pushed =
        new org.apache.spark.sql.sources.Filter[0];

    SnapScanBuilder(Path tableDir, StructType fullSchema) {
      this.tableDir = tableDir;
      this.fullSchema = fullSchema;
      this.requiredSchema = fullSchema;
    }

    @Override
    public void pruneColumns(StructType required) {
      this.requiredSchema = required;
    }

    @Override
    public org.apache.spark.sql.sources.Filter[] pushFilters(
        org.apache.spark.sql.sources.Filter[] filters) {
      List<org.apache.spark.sql.sources.Filter> usable = new ArrayList<>();
      for (org.apache.spark.sql.sources.Filter f : filters) {
        if (FileStats.supports(f)) {
          usable.add(f);
        }
      }
      this.pushed = usable.toArray(new org.apache.spark.sql.sources.Filter[0]);
      // stats prune whole FILES; rows inside surviving files still need
      // the filter, so every filter is returned for Spark-side
      // re-evaluation (same contract as a format without dictionaries)
      return filters;
    }

    @Override
    public org.apache.spark.sql.sources.Filter[] pushedFilters() {
      return pushed;
    }

    @Override
    public Scan build() {
      return new SnapScan(tableDir, fullSchema, requiredSchema, pushed);
    }
  }

  /** Per-file min/max column stats (the ``.stats`` sidecar) and the
   * can-this-file-match-this-filter test used for file pruning. */
  static class FileStats {
    final Map<String, String[]> ranges = new HashMap<>(); // name -> {kind, min, max}

    static FileStats read(File binFile) {
      File f = new File(binFile.getPath() + ".stats");
      if (!f.isFile()) {
        return null;
      }
      FileStats out = new FileStats();
      try {
        for (String line : Files.readAllLines(f.toPath(), StandardCharsets.UTF_8)) {
          String[] parts = line.split("\t");
          if (parts.length == 4) {
            out.ranges.put(
                java.net.URLDecoder.decode(parts[0], "UTF-8"),
                new String[] {
                  parts[1],
                  java.net.URLDecoder.decode(parts[2], "UTF-8"),
                  java.net.URLDecoder.decode(parts[3], "UTF-8")
                });
          }
        }
      } catch (IOException e) {
        return null; // unreadable stats: never prune
      }
      return out;
    }

    static boolean supports(org.apache.spark.sql.sources.Filter f) {
      return f instanceof org.apache.spark.sql.sources.EqualTo
          || f instanceof org.apache.spark.sql.sources.GreaterThan
          || f instanceof org.apache.spark.sql.sources.GreaterThanOrEqual
          || f instanceof org.apache.spark.sql.sources.LessThan
          || f instanceof org.apache.spark.sql.sources.LessThanOrEqual
          || f instanceof org.apache.spark.sql.sources.In;
    }

    /** -2 = no stats / not comparable; else compareTo(value) semantics
     * clamped to {-1, 0, 1}. */
    private int cmp(String kind, String bound, Object value) {
      try {
        if (kind.equals("l") && value instanceof Number) {
          return Long.compare(Long.parseLong(bound), ((Number) value).longValue());
        }
        if (kind.equals("s") && value instanceof String) {
          // compare in UTF-8 byte order, matching the writer's stats
          // and Spark's string predicate semantics (not UTF-16 order)
          int c = org.apache.spark.unsafe.types.UTF8String.fromString(bound)
              .compareTo(
                  org.apache.spark.unsafe.types.UTF8String.fromString((String) value));
          return Integer.compare(c, 0);
        }
      } catch (NumberFormatException ignore) {
        // fall through
      }
      return -2;
    }

    private boolean outside(String name, Object value) {
      String[] r = ranges.get(name);
      if (r == null) {
        return false;
      }
      int lo = cmp(r[0], r[1], value);
      int hi = cmp(r[0], r[2], value);
      return lo != -2 && hi != -2 && (lo > 0 || hi < 0);
    }

    /** True when the file's ranges PROVE no row matches the filter. */
    boolean provesEmpty(org.apache.spark.sql.sources.Filter f) {
      if (f instanceof org.apache.spark.sql.sources.EqualTo) {
        org.apache.spark.sql.sources.EqualTo e = (org.apache.spark.sql.sources.EqualTo) f;
        return outside(e.attribute(), e.value());
      }
      if (f instanceof org.apache.spark.sql.sources.In) {
        org.apache.spark.sql.sources.In in = (org.apache.spark.sql.sources.In) f;
        for (Object v : in.values()) {
          if (!outside(in.attribute(), v)) {
            return false;
          }
        }
        return in.values().length > 0;
      }
      String[] r;
      if (f instanceof org.apache.spark.sql.sources.GreaterThan) {
        org.apache.spark.sql.sources.GreaterThan g = (org.apache.spark.sql.sources.GreaterThan) f;
        r = ranges.get(g.attribute());
        return r != null && cmp(r[0], r[2], g.value()) != -2 && cmp(r[0], r[2], g.value()) <= 0;
      }
      if (f instanceof org.apache.spark.sql.sources.GreaterThanOrEqual) {
        org.apache.spark.sql.sources.GreaterThanOrEqual g =
            (org.apache.spark.sql.sources.GreaterThanOrEqual) f;
        r = ranges.get(g.attribute());
        return r != null && cmp(r[0], r[2], g.value()) != -2 && cmp(r[0], r[2], g.value()) < 0;
      }
      if (f instanceof org.apache.spark.sql.sources.LessThan) {
        org.apache.spark.sql.sources.LessThan l = (org.apache.spark.sql.sources.LessThan) f;
        r = ranges.get(l.attribute());
        return r != null && cmp(r[0], r[1], l.value()) != -2 && cmp(r[0], r[1], l.value()) >= 0;
      }
      if (f instanceof org.apache.spark.sql.sources.LessThanOrEqual) {
        org.apache.spark.sql.sources.LessThanOrEqual l =
            (org.apache.spark.sql.sources.LessThanOrEqual) f;
        r = ranges.get(l.attribute());
        return r != null && cmp(r[0], r[1], l.value()) != -2 && cmp(r[0], r[1], l.value()) > 0;
      }
      return false;
    }
  }

  static class SnapScan implements Scan, Batch {
    private final Path tableDir;
    private final StructType fullSchema;
    private final StructType schema;
    private final org.apache.spark.sql.sources.Filter[] filters;

    SnapScan(Path tableDir, StructType fullSchema, StructType schema,
        org.apache.spark.sql.sources.Filter[] filters) {
      this.tableDir = tableDir;
      this.fullSchema = fullSchema;
      this.schema = schema;
      this.filters = filters;
    }

    @Override
    public StructType readSchema() {
      return schema;
    }

    @Override
    public String description() {
      // surfaces the pruned column set + pushed filters in explain()
      // so tests (and humans) can assert the pushdown happened
      StringBuilder sb = new StringBuilder("SnapScan(read=");
      sb.append(String.join(",", schema.fieldNames()));
      if (filters.length > 0) {
        sb.append(", pushed=").append(Arrays.toString(filters));
      }
      return sb.append(')').toString();
    }

    @Override
    public Batch toBatch() {
      return this;
    }

    @Override
    public InputPartition[] planInputPartitions() {
      // snapshot isolation: only files under a committed manifest's
      // data_dirs are planned — a racing uncommitted append is
      // invisible. Pushed filters prune whole files via the per-file
      // min/max stats sidecars (Iceberg-style data-file skipping);
      // files without stats are never pruned.
      int latestV = ManifestLog.latestVersion(tableDir);
      String manifest = latestV == 0 ? "" : ManifestLog.readManifest(tableDir, latestV);
      List<String> dataDirs = ManifestLog.dataDirs(manifest);
      List<String> committedFiles = ManifestLog.dataFiles(manifest);
      List<InputPartition> parts = new ArrayList<>();
      for (String rel : dataDirs) {
        Path dirPath = tableDir.resolve(rel);
        File[] files = resolveDirFiles(tableDir, rel, committedFiles);
        if (files == null) {
          continue;
        }
        // write-time schema sidecar: rows in this dir were laid out
        // under it; absent (pre-evolution table) means the current
        // table schema — alterTable back-stamps before evolving
        String fileSchemaJson = null;
        Path sidecar = dirPath.resolve("_schema.json");
        if (Files.isRegularFile(sidecar)) {
          try {
            fileSchemaJson = new String(Files.readAllBytes(sidecar), StandardCharsets.UTF_8);
          } catch (IOException e) {
            throw new UncheckedIOException(e);
          }
        }
        Arrays.sort(files);
        for (File f : files) {
          if (filters.length > 0) {
            FileStats stats = FileStats.read(f);
            if (stats != null) {
              boolean skip = false;
              for (org.apache.spark.sql.sources.Filter flt : filters) {
                if (stats.provesEmpty(flt)) {
                  skip = true;
                  break;
                }
              }
              if (skip) {
                continue;
              }
            }
          }
          parts.add(new BlobPartition(f.getAbsolutePath(), fileSchemaJson));
        }
      }
      return parts.toArray(new InputPartition[0]);
    }

    /** The ONE per-dir committed-file resolution rule: the manifest's
     * exact file list when it carries entries for the dir, else the
     * legacy dir-listing fallback (pre-data_files manifests; safe
     * because every write commits into a fresh UUID dir, so legacy
     * dirs are immutable). */
    static File[] resolveDirFiles(Path tableDir, String rel, List<String> committed) {
      List<File> listed = new ArrayList<>();
      for (String cf : committed) {
        if (cf.startsWith(rel + "/")) {
          listed.add(tableDir.resolve(cf).toFile());
        }
      }
      if (!listed.isEmpty()) {
        // exact committed file set: an orphan .bin from a crashed
        // task attempt in the same dir is invisible to the scan
        return listed.toArray(new File[0]);
      }
      return tableDir.resolve(rel).toFile()
          .listFiles(f -> f.isFile() && f.getName().endsWith(".bin"));
    }

    @Override
    public PartitionReaderFactory createReaderFactory() {
      return new BlobReaderFactory(fullSchema.json(), schema.json());
    }
  }

  static class BlobPartition implements InputPartition {
    final String path;
    final String schemaJson; // write-time schema; null = table schema

    BlobPartition(String path, String schemaJson) {
      this.path = path;
      this.schemaJson = schemaJson;
    }
  }

  static class BlobReaderFactory implements PartitionReaderFactory {
    private final String fullSchemaJson;
    private final String requiredSchemaJson;

    BlobReaderFactory(String fullSchemaJson, String requiredSchemaJson) {
      this.fullSchemaJson = fullSchemaJson;
      this.requiredSchemaJson = requiredSchemaJson;
    }

    @Override
    public PartitionReader<InternalRow> createReader(InputPartition partition) {
      BlobPartition bp = (BlobPartition) partition;
      String storedJson = bp.schemaJson != null ? bp.schemaJson : fullSchemaJson;
      StructType stored =
          (StructType) org.apache.spark.sql.types.DataType$.MODULE$.fromJson(storedJson);
      StructType required =
          (StructType) org.apache.spark.sql.types.DataType$.MODULE$.fromJson(requiredSchemaJson);
      return new BlobReader(bp.path, stored, required);
    }
  }

  static class BlobReader implements PartitionReader<InternalRow> {
    private final DataInputStream in;
    private final UnsafeRow row;
    private final UnsafeProjection prune; // null when reading all columns
    private InternalRow current;

    BlobReader(String path, StructType stored, StructType required) {
      try {
        this.in = new DataInputStream(new BufferedInputStream(new FileInputStream(path)));
      } catch (IOException e) {
        throw new UncheckedIOException(e);
      }
      this.row = new UnsafeRow(stored.size());
      if (required.json().equals(stored.json())) {
        this.prune = null;
      } else {
        // project the stored-layout UnsafeRow to the pushed-down
        // columns: BoundReference per required field by ordinal in the
        // file's WRITE-TIME schema; a column the file predates (schema
        // evolution) reads as a typed NULL literal; a column written
        // narrower (int before an int->long widening) reads through a
        // Cast; nested struct evolution rebuilds the struct value
        java.util.List<org.apache.spark.sql.catalyst.expressions.Expression> refs =
            new ArrayList<>();
        for (org.apache.spark.sql.types.StructField f : required.fields()) {
          int ordinal;
          try {
            ordinal = stored.fieldIndex(f.name());
          } catch (IllegalArgumentException missing) {
            refs.add(org.apache.spark.sql.catalyst.expressions.Literal.create(
                null, f.dataType()));
            continue;
          }
          refs.add(adaptExpr(
              new org.apache.spark.sql.catalyst.expressions.BoundReference(
                  ordinal, stored.fields()[ordinal].dataType(),
                  stored.fields()[ordinal].nullable()),
              stored.fields()[ordinal].dataType(), f.dataType()));
        }
        this.prune = UnsafeProjection.create(
            scala.jdk.javaapi.CollectionConverters.asScala(refs).toList());
      }
    }

    /** Adapt a write-time-typed expression to the current (required)
     * read type: identity when equal, Cast for lossless widenings,
     * and a rebuilt named_struct (null-preserving) for struct columns
     * whose nested layout evolved — added nested fields null-fill,
     * widened nested fields Cast, recursively. */
    private static org.apache.spark.sql.catalyst.expressions.Expression adaptExpr(
        org.apache.spark.sql.catalyst.expressions.Expression src,
        org.apache.spark.sql.types.DataType stored,
        org.apache.spark.sql.types.DataType required) {
      if (stored.sameType(required)) {
        return src;
      }
      if (stored instanceof StructType && required instanceof StructType) {
        StructType st = (StructType) stored;
        StructType rt = (StructType) required;
        java.util.List<org.apache.spark.sql.catalyst.expressions.Expression> kids =
            new ArrayList<>();
        for (org.apache.spark.sql.types.StructField f : rt.fields()) {
          kids.add(org.apache.spark.sql.catalyst.expressions.Literal.create(
              f.name(), org.apache.spark.sql.types.DataTypes.StringType));
          int ordinal;
          try {
            ordinal = st.fieldIndex(f.name());
          } catch (IllegalArgumentException missing) {
            kids.add(org.apache.spark.sql.catalyst.expressions.Literal.create(
                null, f.dataType()));
            continue;
          }
          org.apache.spark.sql.catalyst.expressions.Expression get =
              new org.apache.spark.sql.catalyst.expressions.GetStructField(
                  src, ordinal, scala.Option.apply(f.name()));
          kids.add(adaptExpr(get, st.fields()[ordinal].dataType(), f.dataType()));
        }
        org.apache.spark.sql.catalyst.expressions.Expression rebuilt =
            new org.apache.spark.sql.catalyst.expressions.CreateNamedStruct(
                scala.jdk.javaapi.CollectionConverters.asScala(kids).toList());
        // a NULL source struct must stay NULL, not become a struct of nulls
        return new org.apache.spark.sql.catalyst.expressions.If(
            new org.apache.spark.sql.catalyst.expressions.IsNull(src),
            org.apache.spark.sql.catalyst.expressions.Literal.create(null, required),
            rebuilt);
      }
      // primitive widening (legality was enforced at alterTable time)
      return new org.apache.spark.sql.catalyst.expressions.Cast(
          src, required, scala.Option.empty(),
          org.apache.spark.sql.catalyst.expressions.Cast.apply$default$4());
    }

    @Override
    public boolean next() throws IOException {
      int len;
      try {
        len = in.readInt();
      } catch (EOFException eof) {
        current = null;
        return false;
      }
      byte[] bytes = new byte[len];
      in.readFully(bytes);
      row.pointTo(bytes, len);
      current = prune == null ? row : prune.apply(row);
      return true;
    }

    @Override
    public InternalRow get() {
      return current;
    }

    @Override
    public void close() throws IOException {
      in.close();
    }
  }

  // ------------------------------------------------------------- manifests
  //
  // Byte-compatible with camelot_spark/snapshots.py (SnapshotLog): the
  // Python tests read these manifests directly to assert snapshot ids.

  static class ManifestLog {
    static Path metaDir(Path tableDir) {
      return tableDir.resolve("_snapshots");
    }

    static int latestVersion(Path tableDir) {
      File[] files = metaDir(tableDir).toFile()
          .listFiles(f -> f.getName().startsWith("v") && f.getName().endsWith(".json"));
      int latest = 0;
      if (files != null) {
        for (File f : files) {
          try {
            int v = Integer.parseInt(f.getName().substring(1, f.getName().length() - 5));
            latest = Math.max(latest, v);
          } catch (NumberFormatException ignore) {
            // not a manifest
          }
        }
      }
      return latest;
    }

    static String readManifest(Path tableDir, int version) {
      try {
        return new String(
            Files.readAllBytes(metaDir(tableDir).resolve("v" + version + ".json")),
            StandardCharsets.UTF_8);
      } catch (IOException e) {
        throw new UncheckedIOException(e);
      }
    }

    /** Extract a string field from a manifest we wrote ourselves. */
    static String stringField(String json, String key) {
      String marker = "\"" + key + "\": \"";
      int i = json.indexOf(marker);
      if (i < 0) {
        return null;
      }
      int start = i + marker.length();
      return json.substring(start, json.indexOf('"', start));
    }

    static List<String> dataDirs(String json) {
      List<String> out = new ArrayList<>();
      String marker = "\"data_dirs\": [";
      int i = json.indexOf(marker);
      if (i < 0) {
        return out;
      }
      int start = i + marker.length();
      String body = json.substring(start, json.indexOf(']', start)).trim();
      if (body.isEmpty()) {
        return out;
      }
      for (String part : body.split(",")) {
        out.add(part.trim().replaceAll("^\"|\"$", ""));
      }
      return out;
    }

    static List<String> latestDataDirs(Path tableDir) {
      int v = latestVersion(tableDir);
      if (v == 0) {
        return new ArrayList<>();
      }
      return dataDirs(readManifest(tableDir, v));
    }

    static List<String> dataFiles(String json) {
      List<String> out = new ArrayList<>();
      String marker = "\"data_files\": [";
      int i = json.indexOf(marker);
      if (i < 0) {
        return out;
      }
      int start = i + marker.length();
      String body = json.substring(start, json.indexOf(']', start)).trim();
      if (body.isEmpty()) {
        return out;
      }
      for (String part : body.split(",")) {
        out.add(part.trim().replaceAll("^\"|\"$", ""));
      }
      return out;
    }

    /**
     * Publish one snapshot: parent's data dirs + the new one, via an
     * atomic hard-link (link(2) fails with EEXIST instead of
     * clobbering a racing winner); losers re-read latest and retry.
     * ``newFiles`` (relative paths) records EXACTLY the files the
     * committed task attempts wrote — an orphan from a crashed
     * attempt sits in the same directory but is never listed, so the
     * scan cannot read it as committed data.
     *
     * <p>``replace=true`` publishes a snapshot whose live data is ONLY
     * the new dir/files (parent chain intact — old versions stay
     * readable for time travel): the INSERT OVERWRITE / compaction
     * commit. Serializable like appends: the loser of a publish race
     * retries on top of the new latest.
     */
    static void commit(Path tableDir, String newDataDir, Map<String, Object> metrics,
        List<String> newFiles, boolean replace) {
      Path meta = metaDir(tableDir);
      try {
        Files.createDirectories(meta);
      } catch (IOException e) {
        throw new UncheckedIOException(e);
      }
      for (int attempt = 0; attempt < 20; attempt++) {
        int parentVersion = latestVersion(tableDir);
        String parentId = null;
        List<String> dirs = new ArrayList<>();
        List<String> files = new ArrayList<>();
        if (parentVersion > 0) {
          String parent = readManifest(tableDir, parentVersion);
          parentId = stringField(parent, "snapshot_id");
          if (!replace) {
            dirs.addAll(dataDirs(parent));
            files.addAll(dataFiles(parent));
          }
        }
        if (newDataDir != null) {
          dirs.add(newDataDir);
        }
        if (newFiles != null) {
          files.addAll(newFiles);
        }
        int version = parentVersion + 1;
        String json = renderManifest(version, parentId, dirs, files, metrics);
        Path tmp = meta.resolve(".tmp-" + UUID.randomUUID().toString().replace("-", "") + ".json");
        try {
          Files.write(tmp, json.getBytes(StandardCharsets.UTF_8));
          try {
            Files.createLink(meta.resolve("v" + version + ".json"), tmp);
            return; // committed
          } catch (FileAlreadyExistsException conflict) {
            // lost the race: retry on top of the new latest
          } finally {
            Files.deleteIfExists(tmp);
          }
        } catch (IOException e) {
          throw new UncheckedIOException(e);
        }
      }
      throw new IllegalStateException("gave up after 20 commit conflicts under " + tableDir);
    }

    static String renderManifest(
        int version, String parentId, List<String> dirs, List<String> files,
        Map<String, Object> metrics) {
      StringBuilder sb = new StringBuilder();
      sb.append("{\n");
      sb.append(" \"committed_at_ms\": ").append(System.currentTimeMillis()).append(",\n");
      sb.append(" \"data_dirs\": [");
      for (int i = 0; i < dirs.size(); i++) {
        if (i > 0) {
          sb.append(", ");
        }
        sb.append('"').append(dirs.get(i)).append('"');
      }
      sb.append("],\n");
      if (files != null && !files.isEmpty()) {
        sb.append(" \"data_files\": [");
        for (int i = 0; i < files.size(); i++) {
          if (i > 0) {
            sb.append(", ");
          }
          sb.append('"').append(files.get(i)).append('"');
        }
        sb.append("],\n");
      }
      sb.append(" \"metrics\": {");
      boolean first = true;
      for (Map.Entry<String, Object> e : new java.util.TreeMap<>(metrics).entrySet()) {
        if (!first) {
          sb.append(", ");
        }
        first = false;
        sb.append('"').append(e.getKey()).append("\": ");
        if (e.getValue() instanceof Number) {
          sb.append(e.getValue());
        } else {
          sb.append('"')
              .append(String.valueOf(e.getValue())
                  .replace("\\", "\\\\").replace("\"", "\\\""))
              .append('"');
        }
      }
      sb.append("},\n");
      sb.append(" \"parent_id\": ")
          .append(parentId == null ? "null" : "\"" + parentId + "\"").append(",\n");
      sb.append(" \"snapshot_id\": \"")
          .append(UUID.randomUUID().toString().replace("-", "")).append("\",\n");
      sb.append(" \"version\": ").append(version).append("\n");
      sb.append("}");
      return sb.toString();
    }
  }
}

/*
 * SnapshotCatalog: a minimal Spark DataSource V2 TableCatalog whose
 * every batch append commits exactly ONE atomic snapshot — the
 * sandbox stand-in for an Iceberg catalog (no network, so the
 * iceberg-spark-runtime jar is unobtainable here; see BASELINE.md).
 *
 * Why this exists: the north_rule requires "Iceberg snapshot
 * checkpoints", and camelot_spark.pipeline.run_extraction drives the
 * catalog branch through spark.writeTo(table).create()/append() and
 * reads it back. With only the v1 session catalog available, that
 * code path silently fell back to the v1 writer and NO test would
 * fail if the DSv2 commit stopped producing snapshots. This catalog
 * closes that hole: the commit protocol (versioned manifest published
 * via an atomic hard-link, optimistic-concurrency retry, parent chain,
 * per-commit metrics) is byte-compatible with
 * camelot_spark/snapshots.py's SnapshotLog, so the Python tests assert
 * real snapshot ids produced by Spark's own V2 write exec path.
 *
 * What it keeps is what run_extraction reaches, because production
 * runs on Iceberg and this class only has to prove that path:
 *  - create/load/drop/list tables (schema in _meta/schema.json);
 *  - a batch append that commits one snapshot, with concurrent appends
 *    serialized by the manifest publish race and a zero-row append
 *    still committing a (file-less) snapshot;
 *  - a batch read of the latest snapshot's committed files, with
 *    column pruning (the resume anti-join reads doc_id only).
 * Schema evolution (alterTable throws), file-stat pruning and
 * truncate/replace commits are Iceberg features nothing in the product
 * reaches, so they are not modelled.
 *
 * Storage: each task writer serializes rows as length-prefixed
 * UnsafeRow buffers (schema-agnostic: nested arrays/structs ride in
 * the row's byte region) into a per-commit data directory; the commit
 * publishes _snapshots/v{N}.json listing all live data dirs and the
 * committed files. Readers resolve the latest committed manifest —
 * snapshot isolation, exactly like the Python SnapshotLog and (by
 * design) like Iceberg's metadata-log. A real deployment swaps this
 * catalog for Iceberg with zero changes to run_extraction.
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
import org.apache.spark.sql.catalyst.expressions.BoundReference;
import org.apache.spark.sql.catalyst.expressions.Expression;
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
import org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns;
import org.apache.spark.sql.connector.write.BatchWrite;
import org.apache.spark.sql.connector.write.DataWriter;
import org.apache.spark.sql.connector.write.DataWriterFactory;
import org.apache.spark.sql.connector.write.LogicalWriteInfo;
import org.apache.spark.sql.connector.write.PhysicalWriteInfo;
import org.apache.spark.sql.connector.write.Write;
import org.apache.spark.sql.connector.write.WriteBuilder;
import org.apache.spark.sql.connector.write.WriterCommitMessage;
import org.apache.spark.sql.types.StructField;
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
      return new SnapTable(ident.toString(), dir, parseSchema(json));
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

  static StructType parseSchema(String json) {
    return (StructType) org.apache.spark.sql.types.DataType$.MODULE$.fromJson(json);
  }

  @Override
  public Table alterTable(Identifier ident, TableChange... changes) {
    throw new UnsupportedOperationException("SnapshotCatalog does not evolve table schemas");
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
          EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE));
    }

    @Override
    public ScanBuilder newScanBuilder(CaseInsensitiveStringMap options) {
      return new SnapScanBuilder(dir, tableSchema);
    }

    @Override
    public WriteBuilder newWriteBuilder(LogicalWriteInfo info) {
      return new WriteBuilder() {
        @Override
        public Write build() {
          return new Write() {
            @Override
            public BatchWrite toBatch() {
              return new SnapBatchWrite(dir, info.schema());
            }
          };
        }
      };
    }
  }

  // ---------------------------------------------------------------- write

  static class SnapBatchWrite implements BatchWrite {
    private final Path tableDir;
    private final StructType schema;
    private final String dataDirRel;

    SnapBatchWrite(Path tableDir, StructType schema) {
      this.tableDir = tableDir;
      this.schema = schema;
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
      if (committed.isEmpty()) {
        // zero committed files (a fully resumed run): reference NO data
        // dir — otherwise the scan's legacy per-dir fallback would list
        // the directory and expose crashed-attempt orphan .bin files as
        // committed data
        deleteRecursively(tableDir.resolve(dataDirRel).toFile());
        ManifestLog.commit(tableDir, null, metrics, null);
        return;
      }
      // record the committed FILES, not just the dir: a crashed task
      // attempt's orphan .bin in the same dir must never be scanned
      ManifestLog.commit(tableDir, dataDirRel, metrics, committed);
    }

    @Override
    public void abort(WriterCommitMessage[] messages) {
      // data files are unreferenced until a manifest lands; clean the
      // orphaned commit directory
      deleteRecursively(tableDir.resolve(dataDirRel).toFile());
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
      return new BlobWriter(dataDir, partitionId, taskId, parseSchema(schemaJson));
    }
  }

  /** Length-prefixed UnsafeRow blobs: schema-agnostic row storage. */
  static class BlobWriter implements DataWriter<InternalRow> {
    private final File file;
    private final UnsafeProjection toUnsafe;
    private DataOutputStream out;
    private long rows = 0;

    BlobWriter(String dataDir, int partitionId, long taskId, StructType schema) {
      new File(dataDir).mkdirs();
      this.file = new File(dataDir, "part-" + partitionId + "-" + taskId + ".bin");
      this.toUnsafe = UnsafeProjection.create(schema);
    }

    private DataOutputStream stream() throws IOException {
      if (out == null) {
        out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(file)));
      }
      return out;
    }

    @Override
    public void write(InternalRow row) throws IOException {
      byte[] bytes = toUnsafe.apply(row).getBytes();
      DataOutputStream s = stream();
      s.writeInt(bytes.length);
      s.write(bytes);
      rows++;
    }

    @Override
    public WriterCommitMessage commit() throws IOException {
      close();
      return new FileCommit(file.getAbsolutePath(), rows);
    }

    @Override
    public void abort() throws IOException {
      close();
      file.delete();
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
  static class SnapScanBuilder implements SupportsPushDownRequiredColumns {
    private final Path tableDir;
    private final StructType fullSchema;
    private StructType requiredSchema;

    SnapScanBuilder(Path tableDir, StructType fullSchema) {
      this.tableDir = tableDir;
      this.fullSchema = fullSchema;
      this.requiredSchema = fullSchema;
    }

    @Override
    public void pruneColumns(StructType required) {
      // top-level pruning only: a struct column Spark prunes to some
      // nested fields is read whole (Spark extracts them above the
      // scan), so every read field keeps the layout it was written in
      StructField[] fields = new StructField[required.size()];
      for (int i = 0; i < fields.length; i++) {
        fields[i] = fullSchema.apply(required.fieldNames()[i]);
      }
      this.requiredSchema = new StructType(fields);
    }

    @Override
    public Scan build() {
      return new SnapScan(tableDir, fullSchema, requiredSchema);
    }
  }

  static class SnapScan implements Scan, Batch {
    private final Path tableDir;
    private final StructType fullSchema;
    private final StructType schema;

    SnapScan(Path tableDir, StructType fullSchema, StructType schema) {
      this.tableDir = tableDir;
      this.fullSchema = fullSchema;
      this.schema = schema;
    }

    @Override
    public StructType readSchema() {
      return schema;
    }

    @Override
    public String description() {
      // surfaces the pruned column set in explain() so tests (and
      // humans) can assert the pushdown happened
      return "SnapScan(read=" + String.join(",", schema.fieldNames()) + ")";
    }

    @Override
    public Batch toBatch() {
      return this;
    }

    @Override
    public InputPartition[] planInputPartitions() {
      // snapshot isolation: only files under a committed manifest's
      // data_dirs are planned — a racing uncommitted append is
      // invisible
      int latestV = ManifestLog.latestVersion(tableDir);
      String manifest = latestV == 0 ? "" : ManifestLog.readManifest(tableDir, latestV);
      List<String> committedFiles = ManifestLog.stringList(manifest, "data_files");
      List<InputPartition> parts = new ArrayList<>();
      for (String rel : ManifestLog.stringList(manifest, "data_dirs")) {
        File[] files = resolveDirFiles(tableDir, rel, committedFiles);
        if (files == null) {
          continue;
        }
        Arrays.sort(files);
        for (File f : files) {
          parts.add(new BlobPartition(f.getAbsolutePath()));
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

    BlobPartition(String path) {
      this.path = path;
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
      return new BlobReader(((BlobPartition) partition).path,
          parseSchema(fullSchemaJson), parseSchema(requiredSchemaJson));
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
        // project the stored UnsafeRow to the pushed-down columns: one
        // BoundReference per required field, by ordinal in the table
        // schema every file was written under
        List<Expression> refs = new ArrayList<>();
        for (StructField f : required.fields()) {
          int ordinal = stored.fieldIndex(f.name());
          StructField sf = stored.fields()[ordinal];
          refs.add(new BoundReference(ordinal, sf.dataType(), sf.nullable()));
        }
        this.prune = UnsafeProjection.create(
            scala.jdk.javaapi.CollectionConverters.asScala(refs).toList());
      }
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

    /** Extract a string-list field (data_dirs, data_files). */
    static List<String> stringList(String json, String key) {
      List<String> out = new ArrayList<>();
      String marker = "\"" + key + "\": [";
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
     */
    static void commit(Path tableDir, String newDataDir, Map<String, Object> metrics,
        List<String> newFiles) {
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
          dirs.addAll(stringList(parent, "data_dirs"));
          files.addAll(stringList(parent, "data_files"));
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

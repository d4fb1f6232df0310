"""Scheme-aware small-file IO for the layout envelope (`_meta.json`
sidecars, `_CURRENT` markers, epoch-directory listings, parquet footer
stats) — the round-15 port of the sidecar protocol from driver-local
``os`` calls to the Hadoop FileSystem API, so the zero-rewrite epoch
read and the no-count shard resolution work on ``hdfs://`` / ``s3a://``
layouts, not just local disk.

Two paths, one contract:

- **Local fast path** (scheme-less paths): plain ``os`` + pyarrow
  footer reads, zero JVM dependency — ``position_shards(spark=None)``
  on a local layout keeps working without any session.
- **Hadoop path** (any ``scheme://`` path, including ``file://`` which
  the pytests use as the remote stand-in): driver-side calls through
  ``spark._jvm`` — ``FileSystem`` for list/read/write/delete,
  ``FileContext.rename(OVERWRITE)`` for the atomic marker repoint
  (HDFS ``FileSystem.rename`` refuses to overwrite), and parquet-mr's
  ``ParquetFileReader`` for footer row counts + position statistics
  (the footer is fetched by the JVM's FS client; no dependence on a
  libhdfs/pyarrow native filesystem). These are DRIVER FS CALLS, not
  Spark jobs — the no-count-job witnesses still hold: resolving a
  shard costs one small JSON read per rank, never a scan.

Everything here is metadata-sized (a JSON sidecar, a marker line, a
footer): the 100 TB corpus bytes never pass through this module.
"""

from __future__ import annotations

import json
import os
import re

_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*://")


def is_remote(path: str) -> bool:
    """True for any ``scheme://`` path (hdfs, s3a, file, ...) — routed
    through the Hadoop FS API; scheme-less paths use local ``os``."""
    return bool(_SCHEME_RE.match(path))


def join(path: str, *names: str) -> str:
    """Scheme-aware path join (Hadoop paths are always '/'-separated)."""
    if is_remote(path):
        out = path.rstrip("/")
        for n in names:
            out += "/" + n.strip("/")
        return out
    return os.path.join(path, *names)


def hadoop_fs(spark, path: str):
    """(FileSystem, Path) for any Hadoop-addressable URI. Driver-local
    ``os.path`` reports hdfs://, s3a:// and other remote paths as
    absent; every index and artifact state check goes through here."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _jfs(path: str):
    """(jvm, FileSystem, Path-class, hadoopConf) for a remote path.

    Uses the ACTIVE SparkSession's JVM — the layout functions that can
    run session-free on local disk need a live session for remote
    paths (to host the FS client), but still never launch a job."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        raise ValueError(
            f"layout_io: {path!r} is a remote (Hadoop) path but no "
            "SparkSession is active to host the FileSystem client - "
            "create the session first (no job is launched)"
        )
    fs, jpath = hadoop_fs(spark, path)
    return spark._jvm, fs, jpath, spark._jsc.hadoopConfiguration()


def exists(path: str) -> bool:
    if is_remote(path):
        _, fs, jpath, _ = _jfs(path)
        return bool(fs.exists(jpath))
    return os.path.exists(path)


def isdir(path: str) -> bool:
    if is_remote(path):
        _, fs, jpath, _ = _jfs(path)
        return bool(fs.exists(jpath)) and bool(
            fs.getFileStatus(jpath).isDirectory()
        )
    return os.path.isdir(path)


def list_names(path: str) -> list[str]:
    """Child entry names of a directory (not recursive)."""
    if is_remote(path):
        _, fs, jpath, _ = _jfs(path)
        return [s.getPath().getName() for s in fs.listStatus(jpath)]
    return os.listdir(path)


def list_parquet_relpaths(path: str) -> list[str]:
    """Relative paths of every data parquet file under ``path``,
    recursively, skipping ``_``/``.`` entries (the _SUCCESS / sidecar
    convention) — the file set a layout sidecar records, sorted."""
    return [rel for rel, _ in list_parquet_files(path)]


def list_parquet_files(path: str) -> list[tuple[str, int]]:
    """(relpath, size_bytes) of every data parquet file under ``path``
    — same listing as :func:`list_parquet_relpaths`, with the byte
    sizes the listing already carries (``FileStatus.getLen`` remotely,
    ``os.stat`` locally) so sidecar writers can record them for free
    (loader prefetch manifests budget by bytes, not rows)."""
    out: list[tuple[str, int]] = []
    if is_remote(path):
        _, fs, jpath, _ = _jfs(path)
        root = fs.makeQualified(jpath).toString().rstrip("/")
        it = fs.listFiles(jpath, True)
        while it.hasNext():
            st = it.next()
            full = st.getPath().toString()
            if not full.startswith(root + "/"):
                continue
            rel = full[len(root) + 1 :]
            parts = rel.split("/")
            if any(p.startswith(("_", ".")) for p in parts):
                continue
            if rel.endswith(".parquet"):
                out.append((rel, int(st.getLen())))
        return sorted(out)
    for dirroot, dirs, fnames in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for fname in sorted(fnames):
            if fname.endswith(".parquet") and not fname.startswith(
                ("_", ".")
            ):
                full = os.path.join(dirroot, fname)
                out.append(
                    (os.path.relpath(full, path), os.stat(full).st_size)
                )
    return sorted(out)


def read_text(path: str) -> str | None:
    """File contents as UTF-8 text, or None when absent."""
    if is_remote(path):
        jvm, fs, jpath, _ = _jfs(path)
        if not fs.exists(jpath):
            return None
        inp = fs.open(jpath)
        try:
            # py4j cannot mutate a passed bytearray, so the read rides
            # commons-io (bundled with Spark) and returns byte[] whole
            data = bytes(
                jvm.org.apache.commons.io.IOUtils.toByteArray(inp)
            )
        finally:
            inp.close()
        return data.decode("utf-8")
    if not os.path.exists(path):
        return None
    with open(path, encoding="utf-8") as fh:
        return fh.read()


def write_text_atomic(dirpath: str, name: str, text: str) -> None:
    """Write ``dirpath/name`` atomically: tmp file + rename-with-
    overwrite, so a concurrent reader sees the old contents or the new
    — never a torn write. Remote: ``FileContext.rename(OVERWRITE)``
    (the atomic primitive HDFS actually offers; plain
    ``FileSystem.rename`` refuses existing destinations), with a
    delete+rename fallback for filesystems without FileContext
    support (object stores' rename is a copy anyway — the tmp step
    still keeps partial writes invisible)."""
    target = join(dirpath, name)
    tmp = target + ".tmp"
    if is_remote(dirpath):
        from pyspark.sql import SparkSession

        jvm, fs, _, conf = _jfs(dirpath)
        jtmp = jvm.org.apache.hadoop.fs.Path(tmp)
        jdst = jvm.org.apache.hadoop.fs.Path(target)
        out = fs.create(jtmp, True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
        try:
            fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(conf)
            Rename = jvm.org.apache.hadoop.fs.Options.Rename
            spark = SparkSession.getActiveSession()
            arr = spark.sparkContext._gateway.new_array(Rename, 1)
            arr[0] = Rename.OVERWRITE
            fc.rename(jtmp, jdst, arr)
        except Exception:
            if fs.exists(jdst):
                fs.delete(jdst, False)
            fs.rename(jtmp, jdst)
        return
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(text)
    os.replace(tmp, target)


def write_json_atomic(dirpath: str, name: str, doc: dict) -> None:
    write_text_atomic(dirpath, name, json.dumps(doc))


def read_json(path: str) -> dict | None:
    text = read_text(path)
    return None if text is None else json.loads(text)


def makedirs(path: str) -> None:
    if is_remote(path):
        _, fs, jpath, _ = _jfs(path)
        fs.mkdirs(jpath)
        return
    os.makedirs(path, exist_ok=True)


def rmtree(path: str) -> None:
    if is_remote(path):
        _, fs, jpath, _ = _jfs(path)
        fs.delete(jpath, True)
        return
    import shutil

    shutil.rmtree(path)


def delete_file(path: str) -> None:
    if is_remote(path):
        _, fs, jpath, _ = _jfs(path)
        fs.delete(jpath, False)
        return
    os.remove(path)


def file_stat(path: str) -> tuple[int, int]:
    """(size_bytes, mtime_ms) — the byte-identity witness the
    never-rewrite pytests read."""
    if is_remote(path):
        _, fs, jpath, _ = _jfs(path)
        st = fs.getFileStatus(jpath)
        return int(st.getLen()), int(st.getModificationTime())
    st = os.stat(path)
    return int(st.st_size), int(st.st_mtime_ns // 1_000_000)


def parquet_pos_stats(
    file_path: str, pos_col: str
) -> tuple[int, int | None, int | None]:
    """(n_rows, pos_min, pos_max) from ONE parquet file's footer —
    min/max are None when the column is absent or any row group lacks
    statistics. Local: pyarrow. Remote: parquet-mr through the JVM
    (``ParquetFileReader`` only fetches the footer bytes — no data
    pages move to the driver)."""
    if is_remote(file_path):
        jvm, _, _, conf = _jfs(file_path)
        jpath = jvm.org.apache.hadoop.fs.Path(file_path)
        hif = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            jpath, conf
        )
        reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(hif)
        try:
            blocks = reader.getFooter().getBlocks()
            n_rows = 0
            mins: list[int] = []
            maxs: list[int] = []
            ok = True
            for i in range(blocks.size()):
                b = blocks.get(i)
                n_rows += int(b.getRowCount())
                found = False
                cols = b.getColumns()
                for j in range(cols.size()):
                    c = cols.get(j)
                    if c.getPath().toDotString() != pos_col:
                        continue
                    found = True
                    st = c.getStatistics()
                    if st is None or not st.hasNonNullValue():
                        ok = False
                        break
                    mins.append(int(st.genericGetMin()))
                    maxs.append(int(st.genericGetMax()))
                    break
                if not found:
                    ok = False
            if ok and mins:
                return n_rows, min(mins), max(maxs)
            return n_rows, None, None
        finally:
            reader.close()
    import pyarrow.parquet as pq

    meta = pq.ParquetFile(file_path).metadata
    n_rows = int(meta.num_rows)
    try:
        idx = meta.schema.names.index(pos_col)
    except ValueError:
        return n_rows, None, None
    mins, maxs = [], []
    for rg in range(meta.num_row_groups):
        st = meta.row_group(rg).column(idx).statistics
        if st is None or st.min is None:
            return n_rows, None, None
        mins.append(int(st.min))
        maxs.append(int(st.max))
    if not mins:
        return n_rows, None, None
    return n_rows, min(mins), max(maxs)

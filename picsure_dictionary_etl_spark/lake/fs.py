"""Data-plane filesystem access for LakeTable.

Two implementations behind one small surface:

* POSIX fast path (default for plain local paths) — ``os`` calls.
* Hadoop FileSystem (for ``file:``/``hdfs:``/``s3a:``/... URI roots) —
  the SAME filesystem layer Spark's executors write Parquet through,
  reached from the driver over the live session's JVM. No extra
  dependency: if Spark can write the table's data files there, the
  driver can list and GC them there.

This is the data-plane counterpart of the metadata commit point
(:mod:`.metadata_io`): metadata wants an atomic CAS (catalog /
conditional PUT), while the data plane only needs list/delete —
which Hadoop FS gives uniformly for every scheme Spark supports.

Footer-dependent niceties (per-bucket row counts in lineage, the
auto-salt signal derived from them) read local Parquet footers and
degrade gracefully on URI roots: lineage falls back to the in-plan
winner counts and auto-salt simply doesn't engage (documented in
RunnerConfig).
"""

from __future__ import annotations

import os


def is_uri(root: str) -> bool:
    return "://" in root or root.startswith("file:")


class PosixDataFS:
    """Local-path fast path."""

    def list_names(self, dirpath: str) -> list[str]:
        try:
            return sorted(os.listdir(dirpath))
        except FileNotFoundError:
            return []

    def list_files_recursive(self, dirpath: str) -> list[str]:
        out = []
        for dp, _dirs, files in os.walk(dirpath):
            out.extend(os.path.join(dp, f) for f in files)
        return sorted(out)

    def delete(self, path: str) -> None:
        os.remove(path)

    def cleanup_empty_dirs(self, dirpath: str) -> None:
        for dp, _dirs, _files in os.walk(dirpath, topdown=False):
            try:
                os.rmdir(dp)
            except OSError:
                pass

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def size(self, path: str) -> int:
        return os.path.getsize(path)


class HadoopDataFS:
    """URI roots, via the session JVM's Hadoop FileSystem — the exact
    filesystem the executors wrote through."""

    def __init__(self, spark, root_uri: str):
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()
        self._fs = self._jvm.org.apache.hadoop.fs.FileSystem.get(
            self._jvm.java.net.URI(root_uri), self._conf
        )

    def _path(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def list_names(self, dirpath: str) -> list[str]:
        p = self._path(dirpath)
        if not self._fs.exists(p):
            return []
        return sorted(s.getPath().getName() for s in self._fs.listStatus(p))

    def list_files_recursive(self, dirpath: str) -> list[str]:
        p = self._path(dirpath)
        if not self._fs.exists(p):
            return []
        out = []
        it = self._fs.listFiles(p, True)
        while it.hasNext():
            out.append(it.next().getPath().toString())
        return sorted(out)

    def delete(self, path: str) -> None:
        self._fs.delete(self._path(path), False)

    def cleanup_empty_dirs(self, dirpath: str) -> None:
        # deepest-first removal of dirs with no file beneath them,
        # ``dirpath`` included, best-effort like the POSIX twin (object
        # stores list no empty dirs, so there is nothing to remove)
        root = self._path(dirpath)
        if not self._fs.exists(root):
            return
        root = self._fs.makeQualified(root)  # the form listStatus returns
        dirs, nonempty, todo = [], set(), [root]
        while todo:
            d = todo.pop()
            dirs.append(d)
            for st in self._fs.listStatus(d):
                if st.isDirectory():
                    todo.append(st.getPath())
                else:
                    nonempty.add(d.toString())
        # a dir is non-empty if any descendant holds a file: children
        # come after their parents in ``dirs``, so walk it backwards
        for d in reversed(dirs):
            if d.toString() in nonempty and not d.isRoot():
                nonempty.add(d.getParent().toString())
        for d in reversed(dirs):
            if d.toString() not in nonempty:
                try:
                    self._fs.delete(d, False)
                except Exception:
                    pass

    def exists(self, path: str) -> bool:
        return self._fs.exists(self._path(path))

    def size(self, path: str) -> int:
        return int(self._fs.getFileStatus(self._path(path)).getLen())


def move_dir(spark, src: str, dst: str) -> None:
    """Make ``dst`` hold what directory ``src`` held: remove ``dst``,
    then move ``src`` there (a rename on one filesystem, a copy and
    delete across two). A missing ``src`` leaves ``dst`` removed."""
    if not is_uri(src) and not is_uri(dst):
        import shutil

        shutil.rmtree(dst, ignore_errors=True)
        if os.path.isdir(src):
            os.makedirs(os.path.dirname(dst) or ".", exist_ok=True)
            shutil.move(src, dst)
        return
    jvm, conf = spark._jvm, spark._jsc.hadoopConfiguration()
    s, d = jvm.org.apache.hadoop.fs.Path(src), jvm.org.apache.hadoop.fs.Path(dst)
    sfs, dfs = s.getFileSystem(conf), d.getFileSystem(conf)
    dfs.delete(d, True)
    if not sfs.exists(s):
        return
    dfs.mkdirs(d.getParent())
    if sfs.getUri().equals(dfs.getUri()):
        if not sfs.rename(s, d):
            raise OSError(f"could not move {src} to {dst}")
    else:
        jvm.org.apache.hadoop.fs.FileUtil.copy(sfs, s, dfs, d, True, conf)


def arrow_fs_and_base(root: str):
    """(pyarrow FileSystem or None, base path) for a table root — the
    ONE place the engine resolves a root for JVM-less access. None =
    plain local path (POSIX fast path, no pyarrow.fs indirection).
    Shared by the lake_cdf source, the sink's executor write/abort, and
    :class:`ArrowFsDataFS` so every plane resolves a root identically;
    unresolvable schemes raise a typed plan-time seam."""
    if "://" not in root and not root.startswith("file:"):
        return None, root
    import pyarrow.fs as pafs

    uri = root
    if uri.startswith("file:") and not uri.startswith("file://"):
        uri = "file://" + uri[5:]  # file:/x -> file:///x (pyarrow needs //)
    try:
        return pafs.FileSystem.from_uri(uri)
    except Exception as e:  # unresolvable scheme -> typed plan-time seam
        raise NotImplementedError(
            f"pyarrow.fs cannot resolve table root {root!r} ({e})"
        ) from None


def write_parquet(root: str, rel: str, tbl) -> int:
    """Write one zstd parquet data file at ``<root>/<rel>`` from a
    JVM-less process (POSIX fast path, or pyarrow.fs for URI roots) and
    return its byte size. The sink's executor appends and every
    compaction write through here."""
    import posixpath

    import pyarrow.parquet as pq

    afs, base = arrow_fs_and_base(root)
    if afs is None:
        full = os.path.join(base, rel)
        os.makedirs(os.path.dirname(full), exist_ok=True)
        pq.write_table(tbl, full, compression="zstd")
        return os.path.getsize(full)
    full = posixpath.join(base, rel)
    afs.create_dir(posixpath.dirname(full), recursive=True)
    pq.write_table(tbl, full, filesystem=afs, compression="zstd")
    return int(afs.get_file_info(full).size)


class ArrowFsDataFS:
    """URI roots reached from JVM-less Python processes — the
    datasource sink's driver-side commit/abort callbacks and any other
    plain-Python worker. Same ``pyarrow.fs`` plane the ``lake_cdf``
    source reads through (cdf_source.py), so a ``file:``-URI table runs
    data-plane listing/GC without a Spark session in scope.

    Paths arrive in the table's own URI form (``<root_uri>/data/...``)
    and are mapped onto the resolved filesystem's base path; results
    are mapped back, so callers round-trip URI-form paths untouched."""

    def __init__(self, root_uri: str):
        import pyarrow.fs as pafs

        self._fs, self._base = arrow_fs_and_base(root_uri)
        self._base = self._base.rstrip("/")
        self._root_uri = root_uri.rstrip("/")
        self._pafs = pafs

    def _to_base(self, path: str) -> str:
        p = path.rstrip("/")
        if p == self._root_uri:
            return self._base
        if p.startswith(self._root_uri + "/"):
            return self._base + p[len(self._root_uri):]
        return p  # already base-form (or foreign) — pass through

    def _to_uri(self, base_path: str) -> str:
        p = base_path.rstrip("/")
        if p == self._base:
            return self._root_uri
        if p.startswith(self._base + "/"):
            return self._root_uri + p[len(self._base):]
        return base_path

    def _infos(self, dirpath: str, recursive: bool):
        sel = self._pafs.FileSelector(
            self._to_base(dirpath), recursive=recursive,
            allow_not_found=True,
        )
        return self._fs.get_file_info(sel)

    def list_names(self, dirpath: str) -> list[str]:
        return sorted(i.base_name for i in self._infos(dirpath, False))

    def list_files_recursive(self, dirpath: str) -> list[str]:
        return sorted(
            self._to_uri(i.path)
            for i in self._infos(dirpath, True)
            if i.type == self._pafs.FileType.File
        )

    def delete(self, path: str) -> None:
        self._fs.delete_file(self._to_base(path))

    def cleanup_empty_dirs(self, dirpath: str) -> None:
        # deepest-first removal of dirs with nothing beneath them;
        # best-effort exactly like the POSIX twin (object stores have
        # no empty dirs at all). One upward walk per file marks every
        # ancestor non-empty — O(files x depth + dirs), not the
        # O(dirs x files) per-dir prefix scan (review finding).
        infos = self._infos(dirpath, True)
        dirs = [i.path for i in infos if i.type == self._pafs.FileType.Directory]
        nonempty: set[str] = set()
        for i in infos:
            if i.type != self._pafs.FileType.File:
                continue
            p = i.path
            while "/" in p:
                p = p.rsplit("/", 1)[0]
                if p in nonempty or len(p) < len(self._base):
                    break
                nonempty.add(p)
        for d in sorted(dirs, key=len, reverse=True):
            if d not in nonempty:
                try:
                    self._fs.delete_dir(d)
                except Exception:
                    pass

    def exists(self, path: str) -> bool:
        info = self._fs.get_file_info(self._to_base(path))
        return info.type != self._pafs.FileType.NotFound

    def size(self, path: str) -> int:
        return int(self._fs.get_file_info(self._to_base(path)).size)


def data_fs(spark, root: str):
    if not is_uri(root):
        return PosixDataFS()
    # JVM-less handles (datasource worker processes) ride pyarrow.fs;
    # a live session uses the exact Hadoop layer the executors write
    # through (extra schemes, kerberos, etc.)
    return HadoopDataFS(spark, root) if spark is not None else ArrowFsDataFS(root)

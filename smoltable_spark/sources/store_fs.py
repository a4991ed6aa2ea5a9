"""The storage-metadata layer: one file-system adapter and one commit
pointer for every persisted structure — the CellStore, the IVF index
and the streaming rollup/admitter metas.

Data always moves through Spark jobs (``spark.read`` / ``df.write`` work
against any Hadoop URI). What lives here is the driver-side metadata
around it: pointers, manifests, markers, listings, reclaim and
parquet-footer stats.

**The adapter.** :func:`store_fs_for` returns one of two
implementations of the same vocabulary:

- :class:`LocalStoreFS` — local syscalls, no Py4J traffic. It serves
  bare paths (``/tmp/...``) when ``fs.defaultFS`` is local, which is the
  default and every test/bench environment.
- :class:`HadoopStoreFS` — the JVM ``FileSystem`` API. It serves scheme
  paths (``file:``, ``hdfs://``, ``s3a://``) and bare paths under a
  non-local ``fs.defaultFS``, so the metadata always addresses the
  filesystem Spark's data plane resolves the same string against.

Each adapter reports ``atomic_rename``: True only on schemes where a
rename is one metadata operation no reader can observe half-done
(:data:`RENAME_ATOMIC_SCHEMES`). Unknown schemes default to False, so a
new connector can only be treated more safely than it deserves. Only
:func:`publish_text` reads it, to publish sidecar files; no commit
depends on it.

**The pointer.** :class:`GenerationPointer` is the single commit point
of a persisted structure — the analog of the reference's one keyspace
batch commit (smoltable/src/table/writer.rs:75-79). It commits the same
way on every filesystem; see its docstring for the rules.
"""

from __future__ import annotations

import json
import os
import re
import shutil

_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:")

#: schemes whose rename is a single atomic metadata op. Conservative
#: ALLOWLIST: anything not listed (s3a, gs, wasb, ...) is treated as
#: copy+delete. viewfs delegates to its mount targets — atomic within
#: one mount point, which is how every rename here is used.
RENAME_ATOMIC_SCHEMES = frozenset({"file", "hdfs", "viewfs"})


def path_has_scheme(path: str) -> bool:
    return bool(_SCHEME_RE.match(path))


def default_fs_scheme(spark) -> str:
    """Scheme of the session's ``fs.defaultFS`` (``file`` when unset or
    given in bare-path form) — what Spark resolves scheme-less paths
    against."""
    d = spark._jsc.hadoopConfiguration().get("fs.defaultFS", "file:///")
    m = _SCHEME_RE.match(d or "")
    return m.group(0)[:-1].lower() if m else "file"


def store_fs_for(spark, path: str):
    """The adapter for ``path``: :class:`HadoopStoreFS` for scheme URIs
    and for bare paths under a non-local ``fs.defaultFS``;
    :class:`LocalStoreFS` for bare paths otherwise."""
    if path_has_scheme(path) or default_fs_scheme(spark) != "file":
        return HadoopStoreFS(spark, path)
    return LocalStoreFS()


def publish_text(fs, p: str, content: str) -> None:
    """Reader-visible small-file publish. On rename-atomic filesystems a
    plain overwrite could be read half-written, so it goes through the
    staged swap; elsewhere the swap's rename is itself the torn
    copy+delete, while a create is all-or-nothing on close."""
    if getattr(fs, "atomic_rename", True):
        fs.replace_text(p, content)
    else:
        fs.write_text(p, content)


class _MetadataFS:
    """Operations both adapters derive from their primitives."""

    def parquet_dir_rows(self, d: str) -> int:
        """Total rows across a flat directory's parquet files, from
        footers only (no Spark job, no data pages)."""
        return sum(
            self.parquet_num_rows(f"{d}/{name}")
            for name, is_dir in self.list_status(d)
            if not is_dir and name.endswith(".parquet")
        )


class LocalStoreFS(_MetadataFS):
    """Local syscalls only."""

    scheme = "file"
    #: os.replace / os.rename are atomic on POSIX
    atomic_rename = True

    def makedirs(self, p: str) -> None:
        os.makedirs(p, exist_ok=True)

    def exists(self, p: str) -> bool:
        return os.path.exists(p)

    def isdir(self, p: str) -> bool:
        return os.path.isdir(p)

    def listdir(self, p: str) -> list[str]:
        """Child names; [] when the path is missing (both adapters)."""
        try:
            return os.listdir(p)
        except FileNotFoundError:
            return []

    def list_status(self, p: str) -> list[tuple[str, bool]]:
        """(name, is_directory) per child in one listing; [] when the
        path is missing."""
        try:
            with os.scandir(p) as it:
                return [(e.name, e.is_dir()) for e in it]
        except FileNotFoundError:
            return []

    def read_text(self, p: str) -> str:
        with open(p) as fh:
            return fh.read()

    def write_text(self, p: str, content: str) -> None:
        with open(p, "w") as fh:
            fh.write(content)

    def replace_text(self, p: str, content: str) -> None:
        """Atomic publish: write beside, then swap over the destination."""
        tmp = p + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(content)
        os.replace(tmp, p)

    def create_exclusive(self, p: str, content: str) -> None:
        """Atomic create-if-absent: raises :class:`FileExistsError` when
        ``p`` exists (``O_CREAT|O_EXCL``)."""
        with open(p, "x") as fh:
            fh.write(content)

    def rename(self, src: str, dst: str) -> None:
        os.rename(src, dst)

    def rmtree(self, p: str) -> None:
        shutil.rmtree(p, ignore_errors=True)

    def remove(self, p: str) -> None:
        os.remove(p)

    def walk_files(self, d: str):
        """Yield (basename, full_path, size) for every file under d."""
        for root, _, files in os.walk(d):
            for f in files:
                full = os.path.join(root, f)
                yield f, full, os.path.getsize(full)

    def parquet_num_rows(self, full_path: str) -> int:
        import pyarrow.parquet as pq

        return pq.ParquetFile(full_path).metadata.num_rows

    def put_parquet_int64(self, path: str, column: str, values: list[int]) -> None:
        """Driver-side write of a tiny single-column parquet file (the
        Z-order boundaries sidecar — a Spark job for <= 2^bits rows
        costs seconds of fixed overhead per commit)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        pq.write_table(
            pa.table({column: pa.array(values, type=pa.int64())}), path
        )


class HadoopStoreFS(_MetadataFS):
    """JVM-FileSystem-backed metadata ops. Driver-side only; one
    FileSystem resolve per instance."""

    def __init__(self, spark, base: str):
        self._jvm = spark._jvm
        self._gw = spark.sparkContext._gateway
        self._conf = spark._jsc.hadoopConfiguration()
        self._Path = self._jvm.org.apache.hadoop.fs.Path
        self._fs = self._Path(base).getFileSystem(self._conf)
        self._fc = None  # FileContext lazily, only replace_text needs it
        self._base = base
        # capability probe on the RESOLVED filesystem's scheme (viewfs
        # and defaultFS indirection resolve here), not the path string's
        self.scheme = str(self._fs.getUri().getScheme() or "").lower()
        self.atomic_rename = self.scheme in RENAME_ATOMIC_SCHEMES

    # -- queries -----------------------------------------------------------
    def exists(self, p: str) -> bool:
        return bool(self._fs.exists(self._Path(p)))

    def isdir(self, p: str) -> bool:
        jp = self._Path(p)
        return bool(
            self._fs.exists(jp) and self._fs.getFileStatus(jp).isDirectory()
        )

    def listdir(self, p: str) -> list[str]:
        return [name for name, _ in self.list_status(p)]

    def list_status(self, p: str) -> list[tuple[str, bool]]:
        """(name, is_directory) per child from ONE listStatus RPC — not a
        listdir plus a per-entry probe, which matters on object stores."""
        jp = self._Path(p)
        if not self._fs.exists(jp):
            return []
        return [
            (st.getPath().getName(), bool(st.isDirectory()))
            for st in self._fs.listStatus(jp)
        ]

    def read_text(self, p: str) -> str:
        stream = self._fs.open(self._Path(p))
        try:
            return self._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()

    # -- mutations ---------------------------------------------------------
    def makedirs(self, p: str) -> None:
        self._fs.mkdirs(self._Path(p))

    def write_text(self, p: str, content: str) -> None:
        out = self._fs.create(self._Path(p), True)
        try:
            out.write(bytearray(content.encode("utf-8")))
        finally:
            out.close()

    def create_exclusive(self, p: str, content: str) -> None:
        """Atomic create-if-absent: ``FileSystem.create(path,
        overwrite=false)`` (one NameNode op on HDFS, the conditional-put
        analog elsewhere), mapped to :class:`FileExistsError`."""
        from py4j.protocol import Py4JJavaError

        try:
            out = self._fs.create(self._Path(p), False)
        except Py4JJavaError as e:
            jexc = e.java_exception
            cls = jexc.getClass().getName()
            msg = str(jexc.getMessage() or "")
            if "AlreadyExists" in cls or "already exists" in msg.lower():
                raise FileExistsError(p) from e
            raise
        try:
            out.write(bytearray(content.encode("utf-8")))
        finally:
            out.close()

    def replace_text(self, p: str, content: str) -> None:
        """Atomic-overwrite publish: FileSystem.rename refuses existing
        destinations, so the swap goes through FileContext with
        Options.Rename.OVERWRITE."""
        tmp = p + ".tmp"
        self.write_text(tmp, content)
        if self._fc is None:
            self._fc = self._jvm.org.apache.hadoop.fs.FileContext.getFileContext(
                self._Path(self._base).toUri(), self._conf
            )
        Rename = self._jvm.org.apache.hadoop.fs.Options.Rename
        opts = self._gw.new_array(Rename, 1)
        opts[0] = Rename.OVERWRITE
        self._fc.rename(self._Path(tmp), self._Path(p), opts)

    def rename(self, src: str, dst: str) -> None:
        # Hadoop reports a failed rename by its return value
        if not self._fs.rename(self._Path(src), self._Path(dst)):
            raise IOError(f"rename failed: {src} -> {dst}")

    def rmtree(self, p: str) -> None:
        jp = self._Path(p)
        if self._fs.exists(jp):
            self._fs.delete(jp, True)

    def remove(self, p: str) -> None:
        self._fs.delete(self._Path(p), False)

    def walk_files(self, d: str):
        jp = self._Path(d)
        if not self._fs.exists(jp):
            return
        it = self._fs.listFiles(jp, True)  # recursive, files only
        while it.hasNext():
            st = it.next()
            yield (
                st.getPath().getName(),
                st.getPath().toString(),
                int(st.getLen()),
            )

    def parquet_num_rows(self, full_path: str) -> int:
        footer = self._jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(
            self._conf, self._Path(full_path)
        )
        return int(sum(b.getRowCount() for b in footer.getBlocks()))

    def put_parquet_int64(self, path: str, column: str, values: list[int]) -> None:
        """pyarrow writes the sidecar to a local temp file and one
        copyFromLocalFile publishes it; the temp file is removed on every
        exit."""
        import tempfile

        import pyarrow as pa
        import pyarrow.parquet as pq

        with tempfile.NamedTemporaryFile(suffix=".parquet", delete=False) as tf:
            local = tf.name
        try:
            pq.write_table(
                pa.table({column: pa.array(values, type=pa.int64())}), local
            )
            # delSrc=True removes the local temp after the upload
            self._fs.copyFromLocalFile(
                True, True, self._Path("file:" + local), self._Path(path)
            )
        finally:
            if os.path.exists(local):
                os.remove(local)


class ConcurrentCommitError(IOError):
    """This writer lost the create-if-absent race for a pointer
    generation: another writer published the same ``<prefix>-v<n>``
    between this writer's resolve and its commit. Writers are expected
    to be serialized per structure; this error makes a violation loud
    instead of a silent lost update. Both writers may have staged data
    under the same names first, so verify the winner's state before
    redoing the lost work."""


class GenerationPointer:
    """The commit point of one persisted structure under ``root``: the
    newest ``<prefix>-v<n>`` generation file. Its content is a JSON
    object that carries the generation number under ``"v"``.

    ``commit(n, payload)`` publishes ``payload`` as generation ``n`` by
    creating ``<prefix>-v<n>`` if absent — a new file, complete on
    close, so no reader sees a torn pointer, and no file is renamed or
    overwritten. This is the one commit form on every filesystem:

    - exactly one writer wins each ``n``; the loser raises
      :class:`ConcurrentCommitError`;
    - an unparsable file already at ``n`` is garbage from a crashed
      writer: it is swept once and the create retried, and a second
      collision raises;
    - with ``keep`` set, generations older than the newest ``keep`` are
      swept after each commit; otherwise the owner sweeps (``sweep``).

    ``resolve()`` returns ``(n, payload)`` of the newest parsable
    generation, ``(0, None)`` when there is none (``resolve_listed()``
    also returns the root listing it read):

    - a torn generation is skipped for the next lower one;
    - a listed file that vanishes before it is read (a vacuum racing
      the reader) re-lists; the newer max is then present, so each retry
      advances;
    - a plain ``<prefix>`` file is an older single-file layout whose
      number a resolve cannot order against generations; it raises
      rather than read as "no commit", which would let the next commit
      reuse a committed number.
    """

    #: consecutive vacuum races a resolve tolerates before raising
    ATTEMPTS = 5

    def __init__(self, fs, root: str, prefix: str, keep: int | None = None):
        self.fs = fs
        self.root = root
        self.prefix = prefix
        self.keep = keep

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _gen_name(self, n: int) -> str:
        return f"{self.prefix}-v{n}"

    def _numbers(self, names) -> list[int]:
        """Generation numbers among ``names``, newest first."""
        head = self.prefix + "-v"
        out = []
        for name in names:
            if name.startswith(head):
                try:
                    out.append(int(name[len(head):]))
                except ValueError:
                    continue  # staging leftovers, foreign names
        return sorted(out, reverse=True)

    def generations(self) -> list[int]:
        """Generation numbers present, newest first (one listing)."""
        return self._numbers(self.fs.listdir(self.root))

    def _read(self, name: str) -> str:
        """Content of a listed pointer file; FileNotFoundError when it
        has vanished since the listing, any other failure as raised."""
        p = self._path(name)
        try:
            return self.fs.read_text(p)
        except Exception:
            if self.fs.exists(p):
                raise
            raise FileNotFoundError(p) from None

    def load(self, n: int) -> dict:
        """Payload of generation ``n``: FileNotFoundError when it is
        gone, ValueError when it is torn."""
        text = self._read(self._gen_name(n))
        d = json.loads(text)
        if not isinstance(d, dict):
            raise ValueError(f"pointer content is not an object: {text[:40]!r}")
        return d

    def resolve(self) -> tuple[int, dict | None]:
        n, payload, _names = self.resolve_listed()
        return n, payload

    def resolve_listed(self) -> tuple[int, dict | None, list[str]]:
        """``resolve()`` plus the names of ``root`` it listed on the way,
        so an owner that also needs the listing (the CellStore's leg
        dirs) pays for one listing, not two."""
        for _attempt in range(self.ATTEMPTS):
            names = self.fs.listdir(self.root)
            if self.prefix in names:
                raise IOError(
                    f"{self._path(self.prefix)} is a single-file pointer "
                    "written by an older layout, which commits cannot be "
                    f"ordered against (only {self.prefix}-v<n> generations "
                    "are committed now): rebuild the structure"
                )
            try:
                for g in self._numbers(names):
                    try:
                        return g, self.load(g), names
                    except ValueError:
                        continue  # torn: pre-commit garbage
                return 0, None, names
            except FileNotFoundError:
                continue  # vacuum race: re-list
        raise IOError(
            f"resolving {self._path(self.prefix)}: the newest pointer "
            f"vanished between listing and read {self.ATTEMPTS} times in a "
            "row — vacuum is sweeping faster than readers can re-list "
            "(retention is too short for the commit rate)"
        )

    def commit(self, n: int, payload: dict) -> None:
        content = json.dumps({**payload, "v": n})
        target = self._path(self._gen_name(n))
        for _attempt in range(2):
            try:
                self.fs.create_exclusive(target, content)
                break
            except FileExistsError:
                try:
                    self.load(n)
                except (ValueError, FileNotFoundError):
                    # torn garbage (or it just vanished): sweep and
                    # retry; the create still arbitrates between two
                    # writers that both saw the garbage
                    self._remove(self._gen_name(n))
                    continue
                raise ConcurrentCommitError(
                    f"commit of {self._gen_name(n)} in {self.root} lost the "
                    "create-if-absent race: a concurrent writer published "
                    "it between this writer's resolve and its commit"
                ) from None
        else:
            raise ConcurrentCommitError(
                f"commit of {self._gen_name(n)} in {self.root} collided "
                "twice: a concurrent writer re-published it while this "
                "writer swept torn garbage"
            )
        if self.keep is not None:
            self.sweep(n - self.keep + 1)

    def _remove(self, name: str) -> None:
        try:
            self.fs.remove(self._path(name))
        except FileNotFoundError:
            pass

    def sweep(self, below: int, names: list[str] | None = None) -> int:
        """Remove generations numbered below ``below`` (among ``names``
        when the caller already listed ``root``); returns how many. Safe
        against readers: one that listed a swept file re-lists."""
        if names is None:
            names = self.fs.listdir(self.root)
        gone = [g for g in self._numbers(names) if g < below]
        for g in gone:
            self._remove(self._gen_name(g))
        return len(gone)

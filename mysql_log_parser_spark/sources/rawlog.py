"""Distributed scan of ONE raw slow-log file by byte ranges, into docs.

The reference consumes a log as a single sequential reader (ref:log/parser/
slow.go:43-71, one goroutine, one file).  At 100 GB a single reader is the
bottleneck, so this source cuts the FILE into byte-range docs, which
pipeline.events then parses in parallel, with the classic split-log
contract:

- a chunk owns every event whose BOUNDARY LINE starts inside
  [chunk.start, chunk.end);
- each task reads its range plus `overlap` bytes, snaps forward to the
  first boundary line at/after its start (chunk 0 starts at byte 0
  unconditionally, so pre-boundary prologue lines are kept), and keeps
  everything through the first boundary at/after its end — so events
  spanning the cut land in exactly one doc, the chunk that owns their
  boundary line;
- the partial line/event before the snap point is DISCARDED — the same
  partial-event-discard semantics the reference applies at StartOffset
  resume (ref:log/parser/slow.go:46-49), applied at every cut.

Every complete event is emitted exactly once as long as no single event
exceeds `overlap` bytes (enforced loudly, never silently dropped).

Scale shape: the driver touches only file METADATA (one stat); each task
seeks directly into the file (posix read or object-store range GET), so
parallelism = ceil(size / chunk_bytes) with zero shuffle before the parse.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: every event starts on a line with this prefix; chunks snap to it
BOUNDARY = b"# Time:"
#: bytes per store round trip when streaming a gzip member (_StoreRangeFile)
_READ_BUF_BYTES = 4 << 20


class PosixLogStore:
    """Default storage backend: the local filesystem.

    The scanner needs exactly the three primitives an object store exposes —
    stat (size), list, and ranged read (HTTP range GET) — so an S3/HDFS/GCS
    store drops in by implementing this interface; the chunk math and the
    boundary-snap parse above it are storage-agnostic.  Instances are
    pickled into the mapInPandas closure, so implementations must carry
    configuration only (endpoints, credentials providers), never open
    handles."""

    def is_dir(self, path: str) -> bool:
        return os.path.isdir(path)

    def list_files(self, path: str) -> list[str]:
        """Regular, non-hidden files directly under `path`, sorted."""
        return sorted(
            os.path.join(path, n)
            for n in os.listdir(path)
            if os.path.isfile(os.path.join(path, n)) and not n.startswith(".")
        )

    def size(self, path: str) -> int:
        return os.path.getsize(path)

    def read_range(self, path: str, start: int, length: int) -> bytes:
        """Bytes [start, start+length); short reads at EOF are expected."""
        with open(path, "rb") as f:
            f.seek(start)
            return f.read(length)


class _StoreRangeFile:
    """Minimal unseekable read-only file-like over store.read_range — what
    gzip.GzipFile needs to stream-decompress a member without the task ever
    holding the whole compressed OR decompressed body.

    Reads are BUFFERED: gzip's internal reader pulls 8 KiB at a time, and
    an unbuffered pass-through would issue one store round-trip (file
    open/seek or object-store range GET) per 8 KiB of compressed data —
    ~131k GETs for a 1 GB member.  Each store call here fetches
    `_READ_BUF_BYTES` (4 MiB) and serves gzip from memory, so round trips
    scale with compressed size / 4 MiB."""

    def __init__(self, store, path: str, size: int):
        self._store, self._path, self._size, self._pos = store, path, size, 0
        self._buf = b""

    def read(self, n: int = -1) -> bytes:
        if n is None or n < 0:
            n = self._size - self._pos
        if n <= 0:
            return b""
        if len(self._buf) < n and self._pos < self._size:
            fetch = max(n - len(self._buf), _READ_BUF_BYTES)
            fetch = min(fetch, self._size - self._pos)
            got = self._store.read_range(self._path, self._pos, fetch)
            self._pos += len(got)
            self._buf += got
        out, self._buf = self._buf[:n], self._buf[n:]
        return out

    def readable(self) -> bool:
        return True

    def seekable(self) -> bool:
        return False


def _gz_stream_docs(
    store, path: str, size: int, doc_bytes: int, slack: int
) -> Iterator[tuple[int, bytes]]:
    """Stream-decompress a gzip member into event-boundary-snapped docs of
    ~doc_bytes, yielding (decompressed_offset, doc_bytes_chunk).

    Peak task memory is ~doc_bytes + slack + one compressed read buffer —
    NOT the member's full decompressed size (a multi-GB rotated .gz used to
    be one whole-file string).  Cuts happen only at boundary line starts,
    so every event lands in exactly one doc; a single event larger than
    doc_bytes + slack raises loudly (same fail-don't-degrade contract as
    the byte-range overlap guard below).  Multi-member concatenated gzip is
    handled by GzipFile transparently."""
    import gzip

    f = gzip.GzipFile(fileobj=_StoreRangeFile(store, path, size))
    pending = b""
    base = 0
    # read in ~doc_bytes increments so peak memory tracks the doc size, not
    # a fixed large buffer (capped for huge doc_bytes, floored for tiny)
    piece_bytes = max(64 << 10, min(doc_bytes, 4 << 20))
    while True:
        piece = f.read(piece_bytes)
        if piece:
            pending += piece
            while len(pending) >= doc_bytes:
                offs = _boundary_offsets(pending, include_zero=False)
                if not offs:
                    break
                # largest boundary <= doc_bytes keeps docs ~doc_bytes; if
                # the first boundary already overshoots, the run up to it
                # is ONE event span and the same size contract applies —
                # raise-or-yield must not depend on read chunk timing
                at_or_below = [o for o in offs if o <= doc_bytes]
                cut = at_or_below[-1] if at_or_below else offs[0]
                if cut > doc_bytes + slack:
                    raise ValueError(
                        f"gzip member {path}: event spanning decompressed "
                        f"offset {base + cut} exceeds chunk_bytes + "
                        f"overlap = {doc_bytes + slack}; raise overlap"
                    )
                yield base, pending[:cut]
                base += cut
                pending = pending[cut:]
            if len(pending) > doc_bytes + slack:
                raise ValueError(
                    f"gzip member {path}: event spanning decompressed "
                    f"offset {base + len(pending)} exceeds chunk_bytes + "
                    f"overlap = {doc_bytes + slack}; raise overlap"
                )
        else:
            if pending:
                yield base, pending
            return


def _boundary_offsets(buf: bytes, include_zero: bool) -> list[int]:
    """Offsets of lines starting with BOUNDARY within buf (line starts
    only: position 0 when requested, else the byte after a newline)."""
    offs = []
    if include_zero and buf.startswith(BOUNDARY):
        offs.append(0)
    needle = b"\n" + BOUNDARY
    i = 0
    while True:
        j = buf.find(needle, i)
        if j < 0:
            return offs
        offs.append(j + 1)
        i = j + 1


def chunk_specs(
    path: str, chunk_bytes: int, size: int | None = None
) -> list[tuple[str, int, int, int]]:
    if size is None:
        size = os.path.getsize(path)
    n = max(1, -(-size // chunk_bytes))
    return [
        (path, i, i * chunk_bytes, min((i + 1) * chunk_bytes, size))
        for i in range(n)
    ]


DOCS_DDL = "doc_id string, text string, source string"


def read_raw_docs(
    spark: SparkSession,
    path: str | list[str],
    chunk_bytes: int = 64 << 20,
    overlap: int = 1 << 20,
    source: str | None = None,
    store: PosixLogStore | None = None,
) -> DataFrame:
    """Raw log file(s) -> boundary-snapped docs (doc_id, text, source), one
    per chunk, ready for pipeline.events.  doc_id encodes the chunk's
    `base` byte so parsed events can recover absolute offsets (see
    with_file_offset).

    `path` may be one file, a list of files, or a DIRECTORY (every regular
    file inside — the rotated-logs layout); chunking applies per file, so
    parallelism spans files AND byte ranges within each.  The default
    `source=None` tags each event with its file's basename (the per-sink
    fan-out key, self-describing for single- and multi-file reads alike);
    pass a string to tag all events verbatim instead.

    One narrow pass: chunk-spec rows -> per-task range read + boundary snap
    (mapInPandas).  No shuffle.

    `store` abstracts the byte source (default: posix).  The driver issues
    only metadata calls (list + one size per file); every task issues one
    ranged read — against an object store that is one range GET, so the
    same scanner runs unchanged over S3/HDFS via a store implementing
    is_dir/list_files/size/read_range (see PosixLogStore).
    """
    store = store if store is not None else PosixLogStore()
    if isinstance(path, str) and store.is_dir(path):
        paths = store.list_files(path)
    elif isinstance(path, str):
        paths = [path]
    else:
        paths = list(path)
    if not paths:
        raise ValueError(f"no log files under {path!r}")
    specs = []
    sizes = {}
    for p in paths:
        sizes[p] = store.size(p)
        if sizes[p] == 0:
            continue  # empty rotation artifacts: nothing to own, and
            # gzip.decompress would reject an empty member outright
        if p.endswith(".gz"):
            # gzip streams cannot be byte-range split: one task per member.
            # The task STREAM-decompresses into ~chunk_bytes boundary-
            # snapped docs (_gz_stream_docs), so memory stays bounded; a
            # rotated-logs directory still parallelizes ACROSS its .gz
            # files; only intra-file parallelism is lost (inherent to gzip —
            # recompress to a splittable codec to regain it).
            specs.append((p, 0, 0, sizes[p]))
        else:
            specs.extend(chunk_specs(p, chunk_bytes, sizes[p]))
    specs = [
        (p, i, s, e) for i, (p, _, s, e) in enumerate(specs)
    ]  # globally unique chunk ids across files
    if not specs:  # every file was empty: a valid, zero-event read
        return spark.createDataFrame([], DOCS_DDL)
    sdf = spark.createDataFrame(
        specs, "path string, chunk_id long, start long, end long"
    ).repartition(len(specs))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                if r.path.endswith(".gz"):
                    # stream-decompress into ~chunk_bytes boundary-snapped
                    # docs: bounded task memory even for a multi-GB member.
                    # doc_id bases (and thus with_file_offset) are offsets
                    # in the DECOMPRESSED stream for gzip members.
                    for j, (dbase, dbuf) in enumerate(
                        _gz_stream_docs(
                            store, r.path, sizes[r.path], chunk_bytes,
                            overlap,
                        )
                    ):
                        rows.append(
                            {
                                "doc_id": f"{r.chunk_id}.{j}@{dbase}",
                                "text": dbuf.decode("utf-8", errors="replace"),
                                "source": source if source is not None
                                else os.path.basename(r.path),
                            }
                        )
                    continue
                # read one prefix byte so a boundary line starting EXACTLY at
                # r.start is still seen as newline-preceded by this chunk
                prefix = 0 if r.start == 0 else 1
                buf = store.read_range(
                    r.path, r.start - prefix, (r.end - r.start) + overlap + prefix
                )
                chunk_len = r.end - r.start
                at_eof = (r.start - prefix) + len(buf) >= sizes[r.path]
                offs = _boundary_offsets(buf, include_zero=r.start == 0)
                # positions relative to r.start
                offs = [o - prefix for o in offs if o >= prefix]
                if r.start == 0:
                    # chunk 0 starts at byte 0 UNCONDITIONALLY: prologue
                    # lines / events before the first boundary line belong
                    # to it (a rotated log's first event routinely lacks a
                    # '# Time:' of its own)
                    first = 0
                else:
                    owned = [o for o in offs if o < chunk_len]
                    if not owned:
                        continue
                    first = owned[0]
                beyond = [o for o in offs if o >= chunk_len]
                if beyond:
                    stop = beyond[0]
                elif at_eof:
                    stop = len(buf) - prefix
                else:
                    raise ValueError(
                        f"event spanning byte {r.end} of {r.path} exceeds "
                        f"overlap={overlap}; raise overlap"
                    )
                base = r.start + first
                rows.append(
                    {
                        "doc_id": f"{r.chunk_id}@{base}",
                        "text": buf[first + prefix : stop + prefix].decode(
                            "utf-8", errors="replace"
                        ),
                        "source": source if source is not None
                        else os.path.basename(r.path),
                    }
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "text", "source"]
            )

    return sdf.mapInPandas(gen, DOCS_DDL)


def with_file_offset(events: DataFrame) -> DataFrame:
    """Absolute byte offset in the ORIGINAL file for chunk-parsed events:
    doc_id carries the slice base ('<chunk>@<base>'); the parser's intra-doc
    offset has the reference's +1 quirk for non-zero offsets, undone here so
    file_offset is the honest line-start byte."""
    base = F.regexp_extract("doc_id", r"@(\d+)$", 1).cast("long")
    return events.withColumn(
        "file_offset",
        base + F.col("offset") - (F.col("offset") != 0).cast("long"),
    )

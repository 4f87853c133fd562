"""Remote protocol surface: Arrow Flight + HTTP servers over the Engine.

Protocol parity with the reference's dual-server process (``/root/reference/
main.py:28-35`` starts an HTTP server on 8080 in a thread and a Flight server
on 8081 in the main thread):

| reference                                            | here                         |
|------------------------------------------------------|------------------------------|
| ``ABMFlightServer.get_flight_info`` (abm/server.py:238-256) | ``EngineFlightServer.get_flight_info`` |
| ``ABMFlightServer.do_get`` (abm/server.py:140-159)   | ``EngineFlightServer.do_get``|
| ``ABMFlightServer.do_put`` append/overwrite (abm/server.py:164-231, modes :182-187) | ``EngineFlightServer.do_put`` (+ upsert) |
| ticket = JSON ``{"asset_name": ...}`` (abm/ticket.py:14-16) | same wire format             |
| ``ABMHttpHandler.do_GET`` NDJSON stream (abm/server.py:39-60) | ``EngineHttpServer`` GET     |
| ``ABMHttpHandler.do_PUT/do_POST`` (abm/server.py:63-91) | ``EngineHttpServer`` PUT/POST|

Differences that are the point of the exercise:

- the reference's do_get launches a docker connector per request and streams
  its stdout through a temp file per 100-record batch
  (abm/connector.py:288-297); here both protocols serve every read through
  ONE function, ``read_batches``, which yields Arrow record batches.
  Flight streams them; HTTP writes each as NDJSON lines, the lines Spark's
  own JSON writer would write (``_ndjson``). A lake asset's read, bucket slice
  and delta-only change poll run no Spark job at all:
  ``LakeTable.read_arrow``/``changes_arrow`` read the pinned snapshot's
  parquet files with pyarrow, reading each delta file once and resolving
  the requested buckets' deltas in memory, then streaming bases one hash
  bucket at a time (those deltas plus one row group of driver memory — a
  one-bucket slice holds one bucket's deltas), and the response STREAMS
  (the reference's one good property, abm/server.py:159, kept). The
  snapshot diff of a rewritten change range and non-lake assets stream a
  Spark plan through ``toLocalIterator`` — one partition of driver memory
  at a time.
- the reference's do_put iterates rows in Python
  (``batch.to_pandas()`` + ``iterrows``, abm/server.py:206-210 — the
  structural bottleneck called out in BASELINE.md); here the incoming Arrow
  stream is consumed chunk-by-chunk into a parquet staging file (one batch
  of driver memory, type-exact — nullable int64/binary preserved; no
  pandas hop, which corrupted nullable int64 columns to float64/zeros and
  lost binary types) and applied as ONE Spark read + MERGE with cursors
  stamped vectorized. HTTP PUT likewise copies its body in bounded chunks
  and parses JVM-side. Neither write path ever materializes the payload.
- one asset = one Engine (lake table); the asset registry dict mirrors the
  reference's per-asset YAML config lookup (abm/config.py:13-18).
- beyond parity: lake assets expose one Flight endpoint PER HASH BUCKET
  (concurrent lossless read slices — the reference is structurally capped
  at one ticket per asset, abm/server.py:253) and serve INCREMENTAL change
  rows (Flight ticket ``from_version`` / HTTP ``?from_version=N``) so a
  CDC consumer polls deltas instead of re-reading full state per request
  the way the reference's do_get must.

The servers are thin: every data operation is one Engine or LakeTable
call, and every read one ``read_batches`` call, which also decides how a
refused read answers (``ReadError``: HTTP status, or Flight's
``FlightServerError``). The Arrow read path is tested row- and schema-equal
to the Spark read it stands in for, and its NDJSON equal to Spark's JSON
rows.
"""

from __future__ import annotations

import base64
import json
import logging
import os
import re
import shutil
import tempfile
import threading
from collections.abc import Iterator
from decimal import Decimal
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from json.encoder import encode_basestring
from urllib.parse import parse_qsl, urlsplit
from zoneinfo import ZoneInfo

import numpy as np
import pyarrow as pa
from py4j.protocol import Py4JJavaError

try:  # gated: pyarrow.flight needs grpc support compiled in
    import pyarrow.flight as fl

    HAVE_FLIGHT = True
except ImportError:  # pragma: no cover
    fl = None
    HAVE_FLIGHT = False

from airbyte_module_spark.engine import WRITE_MODES, Engine

log = logging.getLogger(__name__)

# rows per Arrow record batch / NDJSON flush on the streamed read paths —
# bounds driver memory per in-flight chunk regardless of asset size
READ_BATCH_ROWS = 4096

# bytes per copy on the HTTP write path (reference parity: its connector
# copies the PUT body in bounded chunks too, abm/connector.py:323-341)
WRITE_COPY_BYTES = 65536

# incoming chunks consumed by the most recent Flight do_put — test
# observability for the incremental consumption contract (the analogue of
# counting batches on the streamed read)
LAST_PUT_CHUNKS = 0


def _spill_dir() -> str:
    """Fresh write-staging dir. Local temp is correct for local[N]; a
    cluster deployment points SPARK_GRAFT_STAGING at shared storage so
    executors can read the spilled file back (same requirement as any
    driver-received upload)."""
    root = os.environ.get("SPARK_GRAFT_STAGING")
    if root:
        os.makedirs(root, exist_ok=True)
    return tempfile.mkdtemp(prefix="abm-put-", dir=root)


def _malformed_json(e: Py4JJavaError) -> bool:
    """Whether a Spark job failed on a line its JSON reader could not parse."""
    cause = e.java_exception
    while cause is not None:
        if (cause.getMessage() or "").startswith("[MALFORMED_RECORD_IN_PARSING"):
            return True
        cause = cause.getCause()
    return False


def _arrow_schema(df):
    """Arrow schema of a DataFrame without running the query (metadata-only:
    converts the Spark schema, same mapping toArrow uses)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(df.schema)


# perfbench/spans.py wraps this name until ROADMAP item 1 moves spans in
def _arrow_batches_eager(batches, batch_rows: int | None = None):
    """The server's one Arrow drain: ``batches`` (a ``LakeTable.read_arrow``
    / ``changes_arrow`` reader) re-sliced to the wire batch size."""
    if batch_rows is None:  # resolved at call time so tests can shrink it
        batch_rows = READ_BATCH_ROWS
    for batch in batches:
        for off in range(0, batch.num_rows, batch_rows):
            yield batch.slice(off, batch_rows)


def _arrow_batches(df, batch_rows: int | None = None):
    """Yield pyarrow RecordBatches of <= ``batch_rows`` rows from a DataFrame
    incrementally, Arrow-native end to end: executors serialize their own
    Arrow batches to IPC blobs inside a ``mapInArrow`` pass (one blob = one
    bounded batch — JVM/Arrow conversion, no Python row objects anywhere),
    and the driver iterates the blob rows with ``toLocalIterator`` (ONE
    partition in flight, prefetching the next) and deserializes each back
    into a RecordBatch. Peak driver memory is one partition of blobs — not
    the asset — and struct/nested columns ride through natively (the
    previous per-row ``Row``→``from_pylist`` loop choked on them and paid a
    large constant factor in driver-side Python)."""
    if batch_rows is None:  # resolved at call time so tests can shrink it
        batch_rows = READ_BATCH_ROWS
    rows_cap = batch_rows
    schema = _arrow_schema(df)

    def to_ipc(batches):
        for batch in batches:
            for off in range(0, batch.num_rows, rows_cap):
                piece = batch.slice(off, rows_cap)
                sink = pa.BufferOutputStream()
                with pa.ipc.new_stream(sink, piece.schema) as w:
                    w.write_batch(piece)
                yield pa.RecordBatch.from_arrays(
                    [pa.array([sink.getvalue().to_pybytes()], pa.binary())],
                    ["ipc"],
                )

    for row in df.mapInArrow(to_ipc, "ipc binary").toLocalIterator(
        prefetchPartitions=True
    ):
        with pa.ipc.open_stream(row[0]) as reader:
            for batch in reader:
                if batch.schema != schema:  # strip executor-side metadata
                    batch = pa.RecordBatch.from_arrays(batch.columns, schema=schema)
                yield batch


class ReadError(Exception):
    """A read ``read_batches`` refuses. ``status`` is the HTTP answer: 400
    = the request itself is malformed (a client bug, never retried), 404 =
    unknown asset, 409 = a well-formed range that is unservable now
    (rewritten on a keyless table, or its snapshot expired) — retryable as
    a full read. Flight raises every one as ``FlightServerError``."""

    def __init__(self, status: int, message: str):
        super().__init__(message)
        self.status = status


def read_batches(
    assets: dict, request: dict
) -> tuple[pa.Schema, Iterator[pa.RecordBatch], int | None]:
    """The one read behind Flight ``do_get`` and HTTP ``GET``:
    ``(schema, record batches, version the batches are pinned to)``.

    ``request`` is a Flight ticket, or the HTTP query in its shape:
    ``asset_name``, then optional ``version`` (the snapshot to pin; default
    the head), ``buckets`` (hash-bucket slice), ``from_version`` and
    ``to_version`` (serve the change rows of ``(from, to]`` instead of
    state; ``to`` defaults to the pinned version). Every value is validated
    before any read. A lake read, slice or delta-only change range comes
    from ``LakeTable.read_arrow``/``changes_arrow`` with no Spark job; a
    range rewritten by compaction or overwrite takes the Spark snapshot
    diff of ``Engine.changes``, and a non-lake asset its Spark read, both
    through the ``toLocalIterator`` drain. Raises ``ReadError``."""
    eng = assets.get(request.get("asset_name"))
    if eng is None:
        raise ReadError(404, f"unknown asset {request.get('asset_name')!r}")
    table = getattr(eng, "table", None)
    try:
        version, from_v, to_v = (
            None if request.get(k) is None else int(request[k])
            for k in ("version", "from_version", "to_version")
        )
        buckets = request.get("buckets")
        buckets = None if buckets is None else [int(b) for b in buckets]
        if to_v is not None and from_v is None:
            raise ValueError("to_version needs from_version")
        if table is None and (version, buckets, from_v) != (None, None, None):
            raise ValueError("asset is not a lake table: no versions, slices or changes")
        if buckets:
            n = table.n_buckets
            if not all(0 <= b < n for b in buckets):
                raise ValueError(f"buckets must lie in 0..{n - 1}, got {buckets}")
        pinned = None if table is None else (
            table.current_version() if version is None else version
        )
        if from_v is not None:
            to_v = pinned if to_v is None else to_v
            if not 0 <= from_v <= to_v <= pinned:
                raise ValueError(
                    f"change range ({from_v}, {to_v}] must run forwards within versions 0..{pinned}"
                )
    except (TypeError, ValueError) as e:
        raise ReadError(400, str(e)) from None
    body_v = pinned if from_v is None else to_v
    try:
        if table is None:
            df = eng.read()
        else:
            batches = (
                table.read_arrow(buckets, pinned) if from_v is None
                else table.changes_arrow(from_v, to_v)
            )
            if batches is not None:
                return batches.schema, _arrow_batches_eager(batches), body_v
            df = eng.changes(from_v, to_v)  # rewritten range: the Spark snapshot diff
    except (ValueError, FileNotFoundError) as e:
        # rewritten on a keyless table / snapshot expired: retry as a full read
        raise ReadError(409, str(e)) from None
    return _arrow_schema(df), _arrow_batches(df), body_v


# --------------------------------------------------------------- NDJSON
# Spark's JSON writer (Jackson) escapes control characters with
# upper-case hex; ``encode_basestring`` writes lower-case
_CONTROL = re.compile(r'[\x00-\x1f"\\]')
_ESCAPES = {chr(i): f"\\u{i:04X}" for i in range(32)} | {
    '"': '\\"', "\\": "\\\\", "\b": "\\b", "\t": "\\t", "\n": "\\n", "\f": "\\f", "\r": "\\r",
}
_NON_FINITE = {"nan": '"NaN"', "inf": '"Infinity"', "-inf": '"-Infinity"'}


def _json_str(s: str) -> str:
    """``s`` as a JSON string, escaped as Jackson escapes it."""
    out = encode_basestring(s)
    if "\\u00" in out:  # rare: redo with Jackson's escapes
        out = '"' + _CONTROL.sub(lambda m: _ESCAPES[m.group()], s) + '"'
    return out


def _java_float(v: float, shortest: str) -> str:
    """Java's ``Double.toString``/``Float.toString`` of ``v``, given its
    shortest round-trip digits ``shortest`` (Python/numpy ``str``): plain
    in [1e-3, 1e7), else ``d.dddE±n``; non-finite values quoted."""
    if v == 0 or 1e-3 <= abs(v) < 1e7:
        return shortest  # Python and numpy print these plain too
    if shortest in _NON_FINITE:
        return _NON_FINITE[shortest]
    sign, digits, exp = Decimal(shortest).normalize().as_tuple()
    text = "".join(map(str, digits))
    return f"{'-' * sign}{text[0]}.{text[1:] or '0'}E{exp + len(text) - 1}"


def _millis(d) -> str:
    """``d`` as ``yyyy-MM-ddTHH:mm:ss.SSS``: microseconds truncated."""
    return f"{d.replace(microsecond=0, tzinfo=None).isoformat()}.{d.microsecond // 1000:03d}"


def _instant(v, zone: ZoneInfo) -> str:
    """A ``TIMESTAMP`` in the session zone, with Java's ``XXX`` offset."""
    v = v.astimezone(zone)
    secs = int(v.utcoffset().total_seconds())
    sign, secs = ("-", -secs) if secs < 0 else ("+", secs)
    offset = f"{sign}{secs // 3600:02d}:{secs // 60 % 60:02d}" if secs else "Z"
    return f'"{_millis(v)}{offset}"'


def _scalar(t: pa.DataType, zone: ZoneInfo):
    """The function writing one non-null value of Arrow type ``t``."""
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return _json_str
    if pa.types.is_integer(t) or pa.types.is_decimal(t):
        return str  # decimals: every digit, as Java's BigDecimal.toString
    if pa.types.is_boolean(t):
        return {True: "true", False: "false"}.__getitem__
    if pa.types.is_float64(t):
        return lambda v: _java_float(v, repr(v))
    if pa.types.is_float32(t):
        return lambda v: _java_float(v, str(np.float32(v)))
    if pa.types.is_date(t):
        return lambda v: f'"{v.isoformat()}"'
    if pa.types.is_timestamp(t):
        return (lambda v: f'"{_millis(v)}"') if t.tz is None else (lambda v: _instant(v, zone))
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return lambda v: f'"{base64.b64encode(v).decode()}"'
    raise TypeError(f"no JSON form for Arrow type {t}")


def _values(arr: pa.Array, zone: ZoneInfo) -> list[str | None]:
    """Each value of ``arr`` as the JSON text Spark writes for it, None
    for a null. Structs (like rows) leave out null fields; arrays and map
    values keep theirs as ``null``."""
    t = arr.type
    if pa.types.is_struct(t):
        return _objects([f.name for f in t], arr.flatten(), arr.is_valid().to_pylist(), zone)
    if not (pa.types.is_map(t) or pa.types.is_list(t) or pa.types.is_large_list(t)):
        write = _scalar(t, zone)
        return [None if v is None else write(v) for v in arr.to_pylist()]
    offs = arr.offsets.to_pylist()  # a map is a list of key/value pairs
    first, n = offs[0], offs[-1] - offs[0]
    if pa.types.is_map(t):
        items = [
            (k if k.startswith('"') else _json_str(k)) + ":" + ("null" if v is None else v)
            for k, v in zip(_values(arr.keys.slice(first, n), zone),
                            _values(arr.items.slice(first, n), zone))
        ]
        opening, closing = "{", "}"
    else:
        items = ["null" if v is None else v for v in _values(arr.values.slice(first, n), zone)]
        opening, closing = "[", "]"
    return [
        opening + ",".join(items[a - first:b - first]) + closing if ok else None
        for ok, a, b in zip(arr.is_valid().to_pylist(), offs, offs[1:])
    ]


def _objects(names: list[str], columns: list, valid, zone: ZoneInfo) -> list[str | None]:
    """One JSON object per row of ``columns``, null fields left out; None
    where ``valid`` (None = every row) says the row is null."""
    keys = [_json_str(n) + ":" for n in names]
    out = [
        "{" + ",".join([k + v for k, v in zip(keys, cells) if v is not None]) + "}"
        for cells in zip(*(_values(c, zone) for c in columns))
    ]
    if valid is None:
        return out
    return [o if ok else None for o, ok in zip(out, valid)]


def _ndjson(time_zone: str):
    """A function writing a record batch as the NDJSON lines Spark's JSON
    writer writes for its rows (timestamps in ``time_zone``, the
    session's), one per row, as UTF-8 bytes."""
    zone = ZoneInfo(time_zone)

    def encode(batch: pa.RecordBatch) -> bytes:
        lines = _objects(batch.schema.names, batch.columns, None, zone)
        return "".join(line + "\n" for line in lines).encode()

    return encode


if HAVE_FLIGHT:

    class EngineFlightServer(fl.FlightServerBase):
        """Arrow Flight facade over a registry of Engines (one per asset)."""

        def __init__(self, assets: dict[str, Engine], location: str = "grpc://127.0.0.1:0"):
            super().__init__(location)
            self.assets = assets

        def _engine(self, asset: str) -> Engine:
            if asset not in self.assets:
                raise fl.FlightServerError(f"unknown asset {asset!r}")
            return self.assets[asset]

        # ---------------------------------------------------------- discovery
        def list_flights(self, context, criteria):
            """Enumerate every served asset (standard Flight catalog
            discovery; the reference has no analogue — its clients must
            know asset names a priori)."""
            for asset in sorted(self.assets):
                yield self.get_flight_info(
                    context, fl.FlightDescriptor.for_command(asset.encode())
                )

        def get_flight_info(self, context, descriptor):
            """Schema discovery: metadata lookup instead of the reference's
            dockerized `discover` round-trip; unknown record/byte counts =
            -1, exactly like abm/server.py:238-256.

            Lake-table assets answer from ONE snapshot read, no Spark job:
            its version is pinned into every endpoint ticket, its schema is
            the advertised one and its live buckets are the endpoints — one
            per bucket (ticket carries the bucket list), so clients read all
            slices CONCURRENTLY. Every identity key lives wholly inside one
            bucket, so per-bucket reads are complete and their union equals
            the single-stream read of that version, whatever commits land
            meanwhile. This beats the reference's documented structural
            ceiling (one endpoint/ticket per asset, abm/server.py:253).
            Other assets keep one endpoint and take the schema of their
            read, which is not free: a CSV file without a schema infers it
            with a Spark job, and an API asset pages the whole API on the
            driver."""
            asset = descriptor.command.decode() if descriptor.command else descriptor.path[0].decode()
            eng = self._engine(asset)
            payload = {"asset_name": asset}
            if not hasattr(eng, "table"):
                schema = _arrow_schema(eng.read())
                tickets = [payload]
            else:
                snap = eng.table.current_snapshot()
                schema = eng.table.arrow_schema(snap)
                payload["version"] = snap["version"]
                live = eng.table.live_buckets(snap)
                tickets = [{**payload, "buckets": [b]} for b in live] or [payload]
            endpoints = [
                fl.FlightEndpoint(fl.Ticket(json.dumps(t).encode()), []) for t in tickets
            ]
            return fl.FlightInfo(schema, descriptor, endpoints, -1, -1)

        # --------------------------------------------------------------- read
        def do_get(self, context, ticket):
            """Streamed read: a GeneratorStream fed batch by batch — reference
            parity with its streamed response (abm/server.py:159). The
            ticket is the ``read_batches`` request: a ticket carrying
            ``buckets`` serves that bucket slice (issued per bucket by
            get_flight_info) of the ticket's pinned ``version``; one
            carrying ``from_version`` serves the INCREMENTAL change rows
            ``(from_version, to_version]`` instead of full state,
            tombstones visible (the reference re-reads everything per
            request — its do_get at abm/server.py:140-159 has no delta
            concept). A refused read raises ``FlightServerError``."""
            try:
                schema, batches, _ = read_batches(self.assets, json.loads(ticket.ticket.decode()))
            except ReadError as e:
                raise fl.FlightServerError(str(e)) from None
            return fl.GeneratorStream(schema, batches)

        # -------------------------------------------------------------- write
        def do_put(self, context, descriptor, reader, writer):
            """Descriptor command = JSON ``{asset, write_mode}``; an
            unknown ``write_mode`` is refused before the stream is read
            (abm/server.py:166-187; json_schema is unnecessary here — the
            Arrow stream carries a real schema, unlike the reference's
            2-type JSON-Schema fabrication at abm/connector.py:302-318).

            STREAMED: the incoming Flight stream is consumed chunk-by-chunk
            into a parquet staging file (``pq.ParquetWriter`` — one Arrow
            batch in driver memory at a time, never ``read_all()``; parquet
            preserves nullable int64/binary exactly, so the r3
            type-fidelity contract holds), then ONE ``spark.read.parquet``
            + ``eng.write`` applies it as a single commit — atomicity and
            exactly-once of the engine's merge are untouched. The reference
            never holds a write body either (abm/connector.py:323-341);
            this is its 1024-byte copy loop, Arrow-shaped."""
            import pyarrow.parquet as pq

            global LAST_PUT_CHUNKS
            cmd = json.loads(descriptor.command.decode())
            asset = cmd["asset"]
            mode = cmd.get("write_mode", "append")
            eng = self._engine(asset)
            if mode not in WRITE_MODES:
                raise fl.FlightServerError(f"unknown write mode {mode!r}")
            staging = _spill_dir()
            spill = os.path.join(staging, "put.parquet")
            try:
                pqw = None
                n_chunks = 0
                try:
                    for chunk in reader:
                        if chunk.data is None:  # metadata-only message
                            continue
                        if pqw is None:
                            pqw = pq.ParquetWriter(spill, chunk.data.schema)
                        pqw.write_batch(chunk.data)
                        n_chunks += 1
                finally:
                    if pqw is not None:
                        pqw.close()
                LAST_PUT_CHUNKS = n_chunks
                if pqw is None:
                    # empty stream: zero-row frame from the declared schema
                    # (overwrite-with-empty must still truncate)
                    df = eng.spark.createDataFrame(
                        pa.Table.from_batches([], schema=reader.schema)
                    )
                else:
                    df = eng.spark.read.parquet(spill)
                eng.write(df, mode=mode)
            finally:
                shutil.rmtree(staging, ignore_errors=True)

else:  # pragma: no cover

    class EngineFlightServer:  # type: ignore[no-redef]
        def __init__(self, *a, **kw):
            raise ImportError("pyarrow.flight is not available in this build")


class _EngineHttpHandler(BaseHTTPRequestHandler):
    """HTTP facade (reference abm/server.py:39-91): GET streams the asset as
    NDJSON; PUT/POST writes an NDJSON body (write mode via X-Write-Mode
    header; the reference passes mode/schema through headers too)."""

    assets: dict[str, Engine] = {}
    protocol_version = "HTTP/1.1"  # chunked transfer needs 1.1

    def log_message(self, *args):  # quiet test runs
        pass

    def _engine(self) -> Engine | None:
        asset = urlsplit(self.path).path.strip("/")
        eng = self.assets.get(asset)
        if eng is None:
            self._empty(404, close=True)  # the write body stays unread
        return eng

    def _empty(self, status: int, close: bool = False) -> None:
        """An empty answer; ``close`` ends the connection (body unread or short)."""
        self.send_response(status)
        self.send_header("Content-Length", "0")
        if close:
            self.send_header("Connection", "close")
        self.end_headers()

    def do_GET(self):
        """Chunked NDJSON stream of the ``read_batches`` read, one chunk per
        record batch (at most READ_BATCH_ROWS rows on the driver at a time
        — the asset never materializes driver-side; the reference's GET
        also streams, abm/server.py:39-60). Each line is the one Spark's
        JSON writer writes for the row (see ``_ndjson``).

        ``?from_version=N[&to_version=M]`` on a lake asset serves the
        INCREMENTAL change rows instead of full state (tombstones visible,
        metadata columns retained) — the polling CDC-consumer read the
        reference cannot express. ``?buckets=0,3,7`` serves just those
        hash-bucket slices (complete per identity key — parallel HTTP
        clients split a read bucket-wise exactly like the per-bucket Flight
        endpoints). Lake responses carry ``X-Table-Version`` — the snapshot
        version the BODY is pinned to, resolved once before the read: a
        header read after the body let a commit land in between, so a
        consumer polling ``?from_version=<header>`` next silently skipped
        its changes forever.

        Statuses come from ``ReadError``: 400 = the request is malformed
        (an unparseable value, ``to_version`` without ``from_version``, a
        backwards range or one past the head, a bucket outside
        ``0..n_buckets-1``, a version/bucket param on an asset that serves
        neither); 409 = a well-formed range that is UNSERVABLE now
        (rewritten by maintenance on a keyless table, or the from-snapshot
        expired) — retryable as a full read. Any other failure before the
        body starts is an empty 500; one after it ends the connection
        without the final chunk, so the client sees a cut stream."""
        url = urlsplit(self.path)
        asset = url.path.strip("/")
        params = dict(parse_qsl(url.query))
        request = {k: v for k, v in params.items() if k in ("from_version", "to_version")}
        request["asset_name"] = asset
        if "buckets" in params:
            request["buckets"] = [b for b in params["buckets"].split(",") if b]
        try:
            _, batches, version = read_batches(self.assets, request)
            encode = _ndjson(self.assets[asset].spark.conf.get("spark.sql.session.timeZone"))
        except ReadError as e:
            self._empty(e.status)
            return
        except Exception:
            self._failed()
            return
        self.send_response(200)
        self.send_header("Content-Type", "application/x-ndjson")
        self.send_header("Transfer-Encoding", "chunked")
        if version is not None:
            self.send_header("X-Table-Version", str(version))
        self.end_headers()
        try:
            for batch in batches:
                if data := encode(batch):
                    self.wfile.write(f"{len(data):x}\r\n".encode() + data + b"\r\n")
        except Exception:
            log.exception("GET %s failed mid-stream", self.path)
            self.close_connection = True
            return
        self.wfile.write(b"0\r\n\r\n")

    def _failed(self) -> None:
        """An unexpected failure before the answer started: logged, and an
        empty 500 instead of a dropped connection."""
        log.exception("%s %s failed", self.command, self.path)
        self._empty(500, close=True)

    def _write(self):
        """Streamed NDJSON write: the Content-Length-bounded body is copied
        from ``rfile`` to an NDJSON staging file in ``WRITE_COPY_BYTES``
        chunks (the reference's bounded copy loop,
        abm/connector.py:323-341 — never the whole body in memory), then
        parsed JVM-side by Spark's JSON reader against the asset schema and
        applied as ONE engine write. No per-row Python dicts anywhere.
        Nothing lands unless the whole body parses: no ``Content-Length`` is
        411; a bad one, an unknown ``X-Write-Mode``, a body ending short or
        a line Spark cannot parse (FAILFAST) is 400, and any other failure
        an empty 500."""
        eng = self._engine()
        if eng is None:
            return
        mode = self.headers.get("X-Write-Mode", "append")
        length = self.headers.get("Content-Length")
        if length is None or not length.isdecimal() or mode not in WRITE_MODES:
            self._empty(411 if length is None else 400, close=True)  # the body stays unread
            return
        remaining = int(length)
        staging = _spill_dir()
        spill = os.path.join(staging, "body.ndjson")
        try:
            with open(spill, "wb") as out:
                while remaining and (chunk := self.rfile.read(min(WRITE_COPY_BYTES, remaining))):
                    out.write(chunk)
                    remaining -= len(chunk)
            if remaining:  # the body ended short
                self._empty(400, close=True)
                return
            df = eng.spark.read.schema(eng.schema()).option("mode", "FAILFAST").json(spill)
            eng.write(df, mode=mode)
        except Exception as e:
            if isinstance(e, Py4JJavaError) and _malformed_json(e):
                self._empty(400)
            else:
                self._failed()
            return
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        self._empty(200)

    do_PUT = _write
    do_POST = _write


class EngineHttpServer:
    """Threaded HTTP server over the asset registry; ``port`` is resolved
    after ``start()`` (bind to port 0 in tests)."""

    def __init__(self, assets: dict[str, Engine], host: str = "127.0.0.1", port: int = 0):
        handler = type("Handler", (_EngineHttpHandler,), {"assets": assets})
        self._httpd = ThreadingHTTPServer((host, port), handler)
        self.port = self._httpd.server_address[1]
        self._thread: threading.Thread | None = None

    def start(self) -> "EngineHttpServer":
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()

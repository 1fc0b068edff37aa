"""Paginated REST (Socrata-style) scan as a Spark 4 Python DataSource
(SURVEY.md §2.1 S1/S2).

Reference semantics (`airflow/dags/crimeapi/extract.py:9-42`): POST a
SoQL query `SELECT * WHERE updated_on BETWEEN '{start}' AND '{end}'`
with limit/offset paging; stop on the first empty page; a variant uses
a `>=` watermark with a page cap (`etl/main.py:26-61`).

Spark-first restatement — the reference's imperative month-chunk loop
(`helper.py:41-65` + DAG full_load) becomes the source's PARTITION
planning, and its in-query WHERE becomes Catalyst filter pushdown:

- ``partitions()`` → one ``InputPartition`` per month window, so a
  full backfill fans out across executors instead of looping on the
  driver (the reference fetches serially; at 1000 executors each month
  streams independently).
- ``pushFilters()`` → range predicates on ``updated_on`` tighten the
  window *before* partition planning — months outside the predicate
  are never planned, the API is never asked for them (the same
  server-side filtering the reference gets via SoQL, now driven by
  Catalyst instead of hand-templated strings).
- each partition pages through its window until an empty page
  (reference termination, extract.py:37-38) or the page cap
  (etl/main.py:57).

One window is read on the driver: when ``partitions()`` plans a single
month window (every daily INCREMENT), ``CrimePipeline.ingest_window``
builds a ``SocrataReader`` itself and runs ``read()`` in-process (page
loop, retries, fault injection, checkpoint unchanged), because one
partition gains no parallelism from a Spark job. Backfills of several
windows go through the DataSource as above.

Endpoints: ``https://…`` POSTs real SoQL (urllib, wherever ``read`` runs);
``fake://<rows_per_month>`` is a deterministic offline generator with
identical paging/termination behavior, used by tests and the query
inventory — this container has no network.

**Planning caveat (Spark 4.1 Python DataSource):** Spark re-plans the
scan (fresh reader + ``pushFilters``) for every query that carries
pushable predicates, but a query with NO pushable predicates reuses
the relation's most recently planned scan — including any filters that
scan absorbed. Treat a loaded DataFrame as one logical query: call
``.load()`` per query (every ``queries()`` entry and the pipeline do).
Verified empirically in ``test_socrata_source.py``
(test_fresh_load_per_query_contract).
"""

from __future__ import annotations

import datetime as dt
import json
from dataclasses import dataclass
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    SimpleDataSourceStreamReader,
    EqualNullSafe,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    Not,
    StringContains,
    StringEndsWith,
    StringStartsWith,
)
from pyspark.sql.types import StructType

from ..schemas import CRIME_RAW_SCHEMA

SOQL_TS_FMT = "%Y-%m-%dT%H:%M:%S.%f"  # reference helper.py:12-16 (ms-truncated)

DEFAULT_PAGESIZE = 5000        # reference crime_etl.py:554
DEFAULT_MAX_PAGES = 10_000     # safety cap; reference variant used 50 (etl/main.py:57)
DEFAULT_START = "2025-01-01T00:00:00.000"  # reference full-load epoch (crime_etl.py:136-138)
DEFAULT_END = "2025-07-01T00:00:00.000"


def _parse_ts(s: str) -> dt.datetime:
    return dt.datetime.strptime(s[:23] + "000", SOQL_TS_FMT)


def _fmt_ts(d: dt.datetime) -> str:
    return d.strftime(SOQL_TS_FMT)[:-3]  # ms precision, reference date_to_str


def _add_month(d: dt.datetime) -> dt.datetime:
    import calendar

    y, m = (d.year + 1, 1) if d.month == 12 else (d.year, d.month + 1)
    return d.replace(year=y, month=m, day=min(d.day, calendar.monthrange(y, m)[1]))


def month_windows(start: dt.datetime, end: dt.datetime) -> list[tuple[dt.datetime, dt.datetime]]:
    """[start, end) chunked into month-sized windows anchored at
    ``start``, last window clamped — reference generate_date_range
    (helper.py:41-65, relativedelta(months=1) stepping)."""
    out = []
    cur = start
    while cur < end:
        nxt = min(_add_month(cur), end)
        out.append((cur, nxt))
        cur = nxt
    return out


@dataclass
class MonthWindow(InputPartition):
    start: str  # SoQL timestamp string, inclusive
    end: str    # exclusive


def _fake_page(
    rows_per_month: int, window_start: dt.datetime, window_end: dt.datetime,
    pagenum: int, pagesize: int,
) -> list[dict]:
    """Deterministic offline page generator over a FIXED global dataset:
    ``rows_per_month`` records anchored to each calendar month, the
    window merely selecting ``ts ∈ [window_start, window_end)`` — so
    pushdown that tightens the scan window can never change which rows
    exist, exactly like a real server. Same paging/termination contract
    as the HTTP path."""
    sel = []
    m = window_start.replace(day=1, hour=0, minute=0, second=0, microsecond=0)
    while m < window_end:
        m_end = _add_month(m)
        span = (m_end - m).total_seconds()
        for i in range(rows_per_month):
            ts = m + dt.timedelta(seconds=(i * span) / max(rows_per_month, 1))
            if window_start <= ts < window_end:
                sel.append((m, i, ts))
        m = m_end
    lo = pagenum * pagesize
    page = sel[lo:lo + pagesize]
    out = []
    for month_start, i, ts in page:
        key = f"{month_start:%Y%m%d}{i:06d}"
        out.append({
            "id": key,
            "case_number": f"HZ{key}",
            "date": _fmt_ts(ts),
            "block": f"0000X N STATE ST {i % 97}",
            "iucr": f"{(i % 50):04d}",
            "primary_type": ["THEFT", "BATTERY", "ASSAULT", "BURGLARY"][i % 4],
            "description": f"DESC {i % 13}",
            "location_description": ["STREET", "RESIDENCE", "APARTMENT"][i % 3],
            "arrest": str(i % 5 == 0).lower(),
            "domestic": str(i % 7 == 0).lower(),
            "beat": str(100 + i % 300),
            "district": str(1 + i % 25),
            "ward": str(1 + i % 50),
            "community_area": str(1 + i % 77),
            "fbi_code": f"{(i % 26):02d}",
            "x_coordinate": str(1100000 + (i * 37) % 90000),
            "y_coordinate": str(1800000 + (i * 53) % 90000),
            "year": str(month_start.year),
            "updated_on": _fmt_ts(ts),
            "latitude": str(41.6 + (i % 1000) / 2500.0),
            "longitude": str(-87.9 + (i % 1000) / 3300.0),
            "location": None,
            ":id": f"row-{key}",
            ":version": "rv1",
            ":created_at": _fmt_ts(ts),
            ":updated_at": _fmt_ts(ts),
        })
    return out


def _soql_lit(v: str) -> str:
    return "'" + str(v).replace("'", "''") + "'"


def _soql_fragment(f: Filter) -> str:
    """Render an absorbed filter as a SoQL predicate. ``StringContains``
    becomes ``like '%v%'`` — a superset when v itself holds % or _
    wildcards, which is fine: the reader re-applies the exact predicate
    executor-side, so the server-side clause only reduces transfer."""
    if isinstance(f, Not):
        c = f.child
        if isinstance(c, EqualNullSafe) and c.value is not None:
            # NOT(a <=> v) is TRUE for null rows; a bare `not (a = v)`
            # would drop them server-side
            col = c.attribute[0]
            return f"({col} is null or {col} != {_soql_lit(c.value)})"
        return f"not ({_soql_fragment(c)})"
    col = f.attribute[0]
    if isinstance(f, In):
        return f"{col} in ({', '.join(_soql_lit(v) for v in f.value)})"
    if isinstance(f, EqualTo):
        return f"{col} = {_soql_lit(f.value)}"
    if isinstance(f, EqualNullSafe):
        return f"{col} is null" if f.value is None else f"{col} = {_soql_lit(f.value)}"
    if isinstance(f, StringContains):
        return f"{col} like {_soql_lit('%' + f.value + '%')}"
    if isinstance(f, StringStartsWith):
        return f"{col} like {_soql_lit(f.value + '%')}"
    if isinstance(f, StringEndsWith):
        return f"{col} like {_soql_lit('%' + f.value)}"
    if isinstance(f, IsNull):
        return f"{col} is null"
    return f"{col} is not null"  # IsNotNull


def _http_page(
    endpoint: str, window_start: str, window_end: str, pagenum: int, pagesize: int,
    extra_where: Sequence[str] = (),
) -> list[dict]:
    """Real SoQL POST — reference extract.py:9-42 (query line 11,
    POST line 28). One window per call, in the process running
    ``read`` (an executor task, or the driver for a one-window ingest)."""
    import urllib.request

    where = f"updated_on between '{window_start}' and '{window_end}'"
    for frag in extra_where:
        where += f" and {frag}"
    query = f"select * where {where} limit {pagesize} offset {pagenum * pagesize}"
    req = urllib.request.Request(
        endpoint,
        data=json.dumps({"query": query}).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=60) as res:
        return json.loads(res.read().decode())


def _with_retries(fn, attempts: int, base_delay: float):
    """Call ``fn`` with up to ``attempts`` retries on any exception —
    capped exponential backoff, ceiling 10 s (the reference runs 3
    retries with a 10 s delay, crime_etl.py:558-561; exponential-with-
    cap subsumes that while failing fast on transient blips)."""
    import time

    for i in range(attempts + 1):
        try:
            return fn()
        except Exception:
            if i == attempts:
                raise
            time.sleep(min(base_delay * (2 ** i), 10.0))


_FS_RESOLVERS: dict = {}


def register_landing_fs(scheme: str, resolver) -> None:
    """Register ``resolver(uri) -> (pyarrow FileSystem, root_path)``
    for a custom landing-checkpoint URI scheme. Schemes pyarrow already
    understands (``s3://``, ``gs://``, ``hdfs://``, ``file://``) need
    no registration."""
    _FS_RESOLVERS[scheme] = resolver


def _landing_fs(target: str):
    """Resolve a checkpoint dir to ``(pyarrow FileSystem, path)``.
    Plain paths stay on the driver-local FS (the historical behavior);
    ``scheme://...`` targets go through a registered resolver or
    ``pyarrow.fs.FileSystem.from_uri`` — so the landing (and with it
    the no-refetch guarantee) can live in the lake and survive loss of
    the driver host (VERDICT r6 item 5)."""
    import pyarrow.fs as pafs

    if "://" in target:
        scheme = target.split("://", 1)[0]
        if scheme in _FS_RESOLVERS:
            return _FS_RESOLVERS[scheme](target)
        return pafs.FileSystem.from_uri(target)
    return pafs.LocalFileSystem(), target


class _PageLanding:
    """The ST5 landing-zone protocol for ONE window directory, over a
    pluggable filesystem: gzip-JSON page files keyed by page number,
    published atomically (tmp + move — no torn page is ever visible on
    local/HDFS; on object stores the move is copy+delete, still safe
    because page payloads are deterministic), a ``_COMPLETE`` cursor
    ``{last_page}`` recording where the window ended, and one marker
    per real fetch under ``_fetchlog/`` (the at-most-once-per-page
    audit trail the resume tests assert on). Used identically by the
    batch reader (`_read_pages`) and the streaming reader (`_page`)."""

    def __init__(self, wdir: str):
        self.fs, self.root = _landing_fs(wdir)
        self.fs.create_dir(f"{self.root}/_fetchlog", recursive=True)

    def _exists(self, path: str) -> bool:
        from pyarrow.fs import FileType

        return self.fs.get_file_info(path).type != FileType.NotFound

    def _write_atomic(self, path: str, payload: bytes) -> None:
        import uuid

        tmp = f"{path}.tmp.{uuid.uuid4().hex}"
        # compression=None: gzip is handled manually so the landed bytes
        # stay byte-compatible with pre-round-7 local landings (pyarrow
        # would otherwise auto-(de)compress on the .gz extension)
        with self.fs.open_output_stream(tmp, compression=None) as fh:
            fh.write(payload)
        self.fs.move(tmp, path)

    def _pfile(self, pagenum: int) -> str:
        return f"{self.root}/page-{pagenum:05d}.json.gz"

    def get(self, pagenum: int):
        """The landed page (may be []), or None if not landed."""
        import gzip

        pfile = self._pfile(pagenum)
        if self._exists(pfile):
            with self.fs.open_input_stream(pfile, compression=None) as fh:
                return json.loads(gzip.decompress(fh.read()))
        if self._exists(f"{self.root}/_COMPLETE"):
            return []  # cursor says the window ended before this page
        return None

    def mark_fetch(self, pagenum: int) -> None:
        import uuid

        self._write_atomic(
            f"{self.root}/_fetchlog/page-{pagenum:05d}.{uuid.uuid4().hex}",
            b"",
        )

    def land(self, pagenum: int, page: list) -> None:
        """Land a fetched page: the empty page lands as the _COMPLETE
        cursor (reference termination, extract.py:37-38), a non-empty
        page as its gzip-JSON file."""
        import gzip

        if not page:
            self._write_atomic(
                f"{self.root}/_COMPLETE",
                json.dumps({"last_page": pagenum - 1}).encode(),
            )
        else:
            self._write_atomic(
                self._pfile(pagenum), gzip.compress(json.dumps(page).encode())
            )


class SocrataReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self.field_names = [f.name for f in schema.fields]
        self.endpoint = options.get("endpoint", "fake://12000")
        self.pagesize = int(options.get("pagesize", DEFAULT_PAGESIZE))
        self.max_pages = int(options.get("max_pages", DEFAULT_MAX_PAGES))
        self.start = options.get("start_date", DEFAULT_START)
        self.end = options.get("end_date", DEFAULT_END)
        self.retries = int(options.get("retries", 3))
        self.retry_delay = float(options.get("retry_delay", 1.0))
        # ST5 page-level checkpoint/resume (reference crime_etl.py:131-169,
        # 190-228): when set, every fetched page lands atomically as a
        # gzip-JSON file keyed (window, pagenum) under this dir — the
        # Spark-native restatement of the reference's {last_page,
        # last_date} XCom cursor. A retried/re-run partition serves
        # landed pages from the checkpoint and only fetches beyond the
        # cursor, so a flaky API never re-serves a landed page. The
        # landed format doubles as the reference's gzip-JSON landing
        # zone (helper.py:67-86). Local-path API here; on a cluster the
        # dir lives on shared storage (s3a/HDFS via a mounted path).
        self.checkpoint_dir = options.get("checkpoint_dir")
        # fault-injection memory for the flaky:// test backend: pages
        # that already failed once succeed on retry
        self._failed_once: set = set()
        # filters fully absorbed by the source: rendered into the SoQL
        # WHERE (HTTP path) and re-applied exactly per record in read()
        self.absorbed: list[Filter] = []

    def _absorbable(self, f: Filter) -> bool:
        """IN-list / equality (incl. null-safe) / substring / null-test
        predicates (and their NOT) on any schema string column — the
        SoQL predicate types the reference's hand-built WHERE could
        express (extract.py:11 shape, generalized)."""
        if isinstance(f, Not):
            return self._absorbable(f.child)
        attr = getattr(f, "attribute", None)
        if not (isinstance(attr, tuple) and len(attr) == 1 and attr[0] in self.field_names):
            return False
        if isinstance(f, In):
            return all(isinstance(v, str) for v in f.value)
        if isinstance(f, (StringContains, StringStartsWith, StringEndsWith, EqualTo)):
            return isinstance(f.value, str)
        if isinstance(f, EqualNullSafe):
            return f.value is None or isinstance(f.value, str)
        return isinstance(f, (IsNotNull, IsNull))

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Accept range predicates on updated_on by tightening the scan
        window (SoQL pushdown, reference extract.py:11 / etl/main.py:34)
        and absorb IN / contains / not-null predicates server-side;
        everything else is returned for Spark to evaluate."""
        for f in filters:
            if self._absorbable(f):
                self.absorbed.append(f)
                if getattr(f, "attribute", None) == ("updated_on",):
                    # bonus pruning: point predicates on the scan column
                    # also bound the month windows that get planned at all
                    if isinstance(f, In):
                        vals = sorted(f.value)
                    elif isinstance(f, (EqualTo, EqualNullSafe)) and isinstance(f.value, str):
                        vals = [f.value]
                    else:
                        vals = []
                    try:
                        if vals:
                            hi = _fmt_ts(_parse_ts(vals[-1]) + dt.timedelta(milliseconds=1))
                            self.start = max(self.start, vals[0])
                            self.end = min(self.end, hi)  # end is exclusive
                    except ValueError:
                        pass
                continue  # not yielded: the source enforces it exactly
            if getattr(f, "attribute", None) == ("updated_on",) and isinstance(
                f, (GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, EqualTo)
            ):
                v = str(f.value)
                try:
                    _parse_ts(v)
                except ValueError:
                    yield f
                    continue
                # window end is EXCLUSIVE: inclusive upper predicates
                # (<=, =) must keep one ms past v inside the scan, or a
                # row at exactly v is never generated at all — and the
                # re-yielded filter can't resurrect an unscanned row
                v_excl = _fmt_ts(_parse_ts(v) + dt.timedelta(milliseconds=1))
                if isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                    self.start = max(self.start, v)
                elif isinstance(f, LessThan):
                    self.end = min(self.end, v)
                elif isinstance(f, LessThanOrEqual):
                    self.end = min(self.end, v_excl)
                else:  # EqualTo pins both ends
                    self.start, self.end = max(self.start, v), min(self.end, v_excl)
                # Conservative: windows are tightened but the filter is
                # also re-evaluated by Spark (boundary inclusiveness).
                yield f
            else:
                yield f

    def partitions(self) -> Sequence[InputPartition]:
        s, e = _parse_ts(self.start), _parse_ts(self.end)
        if s >= e:
            return [MonthWindow(self.start, self.start)]
        return [
            MonthWindow(_fmt_ts(a), _fmt_ts(b)) for a, b in month_windows(s, e)
        ]

    def _eval(self, f: Filter, rec: dict) -> bool | None:
        """SQL three-valued evaluation: a null operand yields UNKNOWN
        (None), so NOT(IN) correctly rejects null rows instead of
        admitting them through boolean negation."""
        if isinstance(f, Not):
            x = self._eval(f.child, rec)
            return None if x is None else not x
        v = rec.get(f.attribute[0])
        if isinstance(f, IsNull):
            return v is None
        if isinstance(f, IsNotNull):
            return v is not None
        if isinstance(f, EqualNullSafe):
            return v == f.value  # total: null-safe equality never yields UNKNOWN
        if v is None:
            return None
        if isinstance(f, EqualTo):
            return v == f.value
        if isinstance(f, In):
            return v in f.value
        if isinstance(f, StringContains):
            return f.value in v
        if isinstance(f, StringStartsWith):
            return v.startswith(f.value)
        return v.endswith(f.value)  # StringEndsWith

    def _matches(self, rec: dict) -> bool:
        """A row survives only if every absorbed predicate is TRUE
        (UNKNOWN filters out, as in a SQL WHERE)."""
        return all(self._eval(f, rec) is True for f in self.absorbed)

    def _window_ckpt_dir(self, partition: MonthWindow, extra: Sequence[str]) -> str:
        """Per-window landing dir, fingerprinted by the page geometry and
        absorbed server-side WHERE — a checkpoint landed under one query
        shape is never resumed by a different one (pages would differ)."""
        import hashlib

        fp = hashlib.sha256(
            json.dumps([self.pagesize, sorted(extra)]).encode()
        ).hexdigest()[:12]
        safe = partition.start.replace(":", "-")
        return f"{self.checkpoint_dir.rstrip('/')}/window={safe}__{fp}"

    def _read_pages(self, partition: MonthWindow, ws, we, fetch_page) -> Iterator[list]:
        """Page loop with optional ST5 landing checkpoint.

        Uncheckpointed: fetch → yield until the empty page (reference
        termination, extract.py:37-38) or the page cap. Checkpointed:
        each page is served from its landed file when present, else
        fetched and landed ATOMICALLY (tmp + move, via a pluggable
        pyarrow FileSystem — see `_PageLanding`; a lake URI keeps the
        no-refetch guarantee alive across driver-host loss) before any
        row is emitted; the terminating empty page lands a ``_COMPLETE`` cursor
        `{last_page}` so a resumed run replays entirely from the lake
        without one API call. Every real fetch appends a marker under
        ``_fetchlog/`` — the at-most-once-per-page fetch audit trail the
        resume test asserts on."""
        if not self.checkpoint_dir:
            for pagenum in range(self.max_pages):
                page = fetch_page(pagenum)
                if not page:
                    return
                yield page
            return
        extra = [_soql_fragment(f) for f in self.absorbed]
        landing = _PageLanding(self._window_ckpt_dir(partition, extra))
        for pagenum in range(self.max_pages):
            page = landing.get(pagenum)
            if page is None:
                page = fetch_page(pagenum)
                landing.mark_fetch(pagenum)
                landing.land(pagenum, page)
            if not page:
                return
            yield page

    def read(self, partition: MonthWindow) -> Iterator[tuple]:
        ws, we = _parse_ts(partition.start), _parse_ts(partition.end)
        if ws >= we:
            return
        fake_rows = fail_every = crash_page = None
        if self.endpoint.startswith("fake://"):
            fake_rows = int(self.endpoint[len("fake://"):])
        elif self.endpoint.startswith("flaky://"):
            # deterministic fault injection: every fail_every-th page
            # raises on its FIRST attempt, then succeeds — exercises the
            # retry path without a real flaky server
            spec = self.endpoint[len("flaky://"):]
            rows_s, fail_s = spec.split(":")
            fake_rows, fail_every = int(rows_s), int(fail_s)
        elif self.endpoint.startswith("crash://"):
            # hard fault injection: the given page fails on EVERY attempt
            # (retries exhaust, the task dies) — simulates the mid-window
            # kill that ST5's landing checkpoint resumes from
            spec = self.endpoint[len("crash://"):]
            rows_s, crash_s = spec.split(":")
            fake_rows, crash_page = int(rows_s), int(crash_s)
        extra = [_soql_fragment(f) for f in self.absorbed]

        def fetch_page(pagenum: int):
            def fetch():
                if fail_every is not None:
                    key = (partition.start, pagenum)
                    if (
                        pagenum % fail_every == fail_every - 1
                        and key not in self._failed_once
                    ):
                        self._failed_once.add(key)
                        raise ConnectionError(
                            f"injected fault on page {pagenum}"
                        )
                if crash_page is not None and pagenum == crash_page:
                    raise ConnectionError(f"injected crash on page {pagenum}")
                if fake_rows is not None:
                    return _fake_page(fake_rows, ws, we, pagenum, self.pagesize)
                return _http_page(self.endpoint, partition.start, partition.end,
                                  pagenum, self.pagesize, extra)

            return _with_retries(fetch, self.retries, self.retry_delay)

        for page in self._read_pages(partition, ws, we, fetch_page):
            for rec in page:
                if self._matches(rec):
                    yield tuple(rec.get(name) for name in self.field_names)


class SocrataStreamReader(SimpleDataSourceStreamReader):
    """Streaming tail of the Socrata scan (SURVEY.md §2.8 ST5/ST6 at
    scale): the reference's ``{last_window, last_page}`` XCom cursor
    (crime_etl.py:131-169, 190-228) restated as REAL Structured
    Streaming offsets — ``{"window": i, "page": p}`` is the next
    unread page, Spark's offset log owns exactly-once progress, and a
    restarted query resumes from the committed cursor instead of an
    Airflow variable.

    Per micro-batch, up to ``pages_per_batch`` pages are fetched
    (rate-limiting knob); a window ends on its first empty page
    (reference termination, extract.py:37-38) and the cursor rolls to
    the next month window. When ``checkpoint_dir`` is set, every
    fetched page lands atomically as gzip-JSON keyed (window, page) —
    the same landing-zone format as the batch reader — so
    ``readBetweenOffsets`` (Spark's replay of a committed-but-
    unfinished batch after a crash) serves entirely from the lake and
    NEVER refetches a landed page; ``_fetchlog/`` markers make the
    at-most-once-per-page property assertable in tests.

    Scale shape: the page cursor is inherently sequential (page N+1's
    existence is only known after page N), so this reader is the
    low-volume incremental TAIL — the driver-side loop is O(pages per
    trigger), rows redistribute to executors immediately after
    ingest. Backfill volume goes through the batch reader, which fans
    month windows across executors (see module docstring).
    """

    def __init__(self, schema: StructType, options: dict):
        self.field_names = [f.name for f in schema.fields]
        self.endpoint = options.get("endpoint", "fake://12000")
        self.pagesize = int(options.get("pagesize", DEFAULT_PAGESIZE))
        self.pages_per_batch = int(options.get("pages_per_batch", 10))
        self.start = options.get("start_date", DEFAULT_START)
        self.end = options.get("end_date", DEFAULT_END)
        self.retries = int(options.get("retries", 3))
        self.retry_delay = float(options.get("retry_delay", 1.0))
        self.checkpoint_dir = options.get("checkpoint_dir")
        self.windows = [
            (_fmt_ts(a), _fmt_ts(b))
            for a, b in month_windows(_parse_ts(self.start), _parse_ts(self.end))
        ]
        self._failed_once: set = set()

    def initialOffset(self) -> dict:
        return {"window": 0, "page": 0}

    # -- paging ----------------------------------------------------------
    def _fetch(self, w: int, pagenum: int) -> list:
        ws, we = self.windows[w]
        fake_rows = fail_every = None
        if self.endpoint.startswith("fake://"):
            fake_rows = int(self.endpoint[len("fake://"):])
        elif self.endpoint.startswith("flaky://"):
            spec = self.endpoint[len("flaky://"):]
            rows_s, fail_s = spec.split(":")
            fake_rows, fail_every = int(rows_s), int(fail_s)

        def fetch():
            if fail_every is not None:
                key = (w, pagenum)
                if (
                    pagenum % fail_every == fail_every - 1
                    and key not in self._failed_once
                ):
                    self._failed_once.add(key)
                    raise ConnectionError(f"injected fault on page {w}/{pagenum}")
            if fake_rows is not None:
                return _fake_page(
                    fake_rows, _parse_ts(ws), _parse_ts(we), pagenum, self.pagesize
                )
            return _http_page(self.endpoint, ws, we, pagenum, self.pagesize)

        return _with_retries(fetch, self.retries, self.retry_delay)

    def _page(self, w: int, pagenum: int) -> list:
        """One page, served from the landing checkpoint when landed,
        else fetched (and landed atomically when a checkpoint dir is
        configured) — the batch reader's ST5 contract, page-addressed
        by the streaming offset."""
        if not self.checkpoint_dir:
            return self._fetch(w, pagenum)
        landing = _PageLanding(
            f"{self.checkpoint_dir.rstrip('/')}/"
            f"window={self.windows[w][0].replace(':', '-')}"
            f"__stream-{self.pagesize}"
        )
        page = landing.get(pagenum)
        if page is None:
            page = self._fetch(w, pagenum)
            landing.mark_fetch(pagenum)
            landing.land(pagenum, page)
        return page

    def _rows(self, page: list):
        for rec in page:
            yield tuple(rec.get(name) for name in self.field_names)

    # -- offset protocol --------------------------------------------------
    def read(self, start: dict):
        w, p = int(start["window"]), int(start["page"])
        rows: list = []
        fetched = 0
        while fetched < self.pages_per_batch and w < len(self.windows):
            page = self._page(w, p)
            fetched += 1
            if not page:
                w, p = w + 1, 0  # window exhausted — roll the cursor
                continue
            rows.extend(self._rows(page))
            p += 1
        return iter(rows), {"window": w, "page": p}

    def readBetweenOffsets(self, start: dict, end: dict):
        """Deterministic replay of [start, end) after a restart: walks
        the same cursor path; every page inside the range is served
        from the landing checkpoint when configured (no refetch — the
        kill/resume pytest asserts the fetchlog stays single-marker)."""
        w, p = int(start["window"]), int(start["page"])
        ew, ep = int(end["window"]), int(end["page"])
        rows: list = []
        while (w, p) < (ew, ep) and w < len(self.windows):
            page = self._page(w, p)
            if not page:
                w, p = w + 1, 0
                continue
            rows.extend(self._rows(page))
            p += 1
        return iter(rows)

    def commit(self, end: dict) -> None:
        pass  # landed pages are the durable state; offsets live in Spark's log


class SocrataCrimeDataSource(DataSource):
    """``spark.read.format("socrata_crime")`` — options: endpoint,
    start_date, end_date, pagesize, max_pages. Also a streaming
    source: ``spark.readStream.format("socrata_crime")`` with the
    same options plus ``pages_per_batch`` (see SocrataStreamReader).
    """

    @classmethod
    def name(cls) -> str:
        return "socrata_crime"

    def schema(self) -> StructType:
        return CRIME_RAW_SCHEMA

    def reader(self, schema: StructType) -> DataSourceReader:
        return SocrataReader(schema, dict(self.options))

    def simpleStreamReader(self, schema: StructType) -> SimpleDataSourceStreamReader:
        return SocrataStreamReader(schema, dict(self.options))


def register_socrata_source(spark) -> None:
    import os

    # Python-source filter pushdown is opt-in (Spark 4.1); without it a
    # reader implementing pushFilters refuses to plan.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    # The STREAMING planner runner (python_streaming_source_runner.py)
    # unpickles the DataSource in a fresh driver-side python process
    # that — unlike batch plan/read workers — does not receive
    # sc.addPyFile includes (verified empirically: includes listed, yet
    # cloudpickle.loads raised ModuleNotFoundError). The runner DOES
    # inherit the envVars captured at registration, so point its
    # PYTHONPATH at the package root. Driver-local is sufficient by
    # design: a SimpleDataSourceStreamReader is a driver-side component
    # (executors only ever see its prefetched arrow batches).
    pkg_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    env = spark.sparkContext.environment
    cur = env.get("PYTHONPATH", "")
    if pkg_root not in cur.split(os.pathsep):
        env["PYTHONPATH"] = (
            pkg_root + (os.pathsep + cur if cur else "")
        )
    spark.dataSource.register(SocrataCrimeDataSource)

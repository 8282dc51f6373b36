"""Custom Python DataSource (Spark 4 DataSource API) for the
reference engine's text sink format.

The reference writes its result as `"word count"` lines in a plain
text file (maprdeuce.cpp:322-329, read back by printWordCounts at
1403-1427).  `write_wordcount_text` reproduces that sink; this
module closes the loop by exposing the format as a first-class
READABLE table through `spark.read.format("wordfile")` — a real
connector, not a parse-after-textfile helper:

- one input partition PER FILE (the reader scales with file count,
  the same parallelism contract as the built-in file sources);
- schema declared up front (`word string, cnt bigint`), so
  downstream pruning/filters work like any other source;
- the per-partition reader yields pyarrow RecordBatches (the
  Spark-4 fast path: one Arrow buffer crosses the Python->JVM
  boundary per 16k rows, not one pickled tuple per row).

At 100 TB you would never funnel bytes through Python row loops —
this demonstrates the CONNECTOR layer (how a proprietary in-house
format plugs into the engine); heavy formats belong in JVM/native
readers (parquet/orc here).
"""

from __future__ import annotations

import glob
import os
import time

import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
    StringStartsWith,
    WriterCommitMessage,
)

# filter classes the reader evaluates natively during the scan
_PUSHABLE = (
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    LessThan,
    LessThanOrEqual,
    StringStartsWith,
)


class WordFilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class WordFileReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("wordfile source requires a path")
        self.filters: list = []

    def pushFilters(self, filters):
        """Accept single-column comparison filters on word/cnt —
        they evaluate inline during the file scan, so filtered reads
        never materialize non-matching rows (Spark 4.1 Python
        DataSource filter-pushdown API).  Everything else is yielded
        back for Spark to evaluate."""
        for f in filters:
            if isinstance(f, _PUSHABLE) and f.attribute in (
                ("word",),
                ("cnt",),
            ):
                self.filters.append(f)
            else:
                yield f

    def _matches(self, word: str, cnt: int) -> bool:
        for f in self.filters:
            v = word if f.attribute == ("word",) else cnt
            if isinstance(f, EqualTo):
                ok = v == f.value
            elif isinstance(f, GreaterThan):
                ok = v > f.value
            elif isinstance(f, GreaterThanOrEqual):
                ok = v >= f.value
            elif isinstance(f, LessThan):
                ok = v < f.value
            elif isinstance(f, LessThanOrEqual):
                ok = v <= f.value
            else:  # StringStartsWith
                ok = isinstance(v, str) and v.startswith(f.value)
            if not ok:
                return False
        return True

    def partitions(self):
        files = sorted(
            {
                p
                for pat in ("part-*", "*.txt")
                for p in glob.glob(os.path.join(self.path, pat))
                if os.path.getsize(p) > 0
            }
        )
        if not files and os.path.isfile(self.path):
            files = [self.path]
        return [WordFilePartition(p) for p in files]

    # rows per emitted Arrow batch: bounds reader memory while
    # keeping per-batch overhead negligible
    BATCH_ROWS = 16_384

    def read(self, partition: WordFilePartition):
        """Yields pyarrow RecordBatches (the Spark-4 Python
        DataSource fast path: one Arrow buffer crosses the
        Python->JVM boundary per batch instead of one pickled tuple
        per row).  Filters still evaluate inline during the scan."""
        import pyarrow as pa

        words: list[str] = []
        cnts: list[int] = []
        with open(partition.path, encoding="utf-8") as f:
            for line in f:
                line = line.rstrip("\n")
                if not line:
                    continue
                word, _, cnt = line.rpartition(" ")
                n = int(cnt)
                if self._matches(word, n):
                    words.append(word)
                    cnts.append(n)
                    if len(words) >= self.BATCH_ROWS:
                        yield pa.RecordBatch.from_arrays(
                            [
                                pa.array(words, pa.string()),
                                pa.array(cnts, pa.int64()),
                            ],
                            names=["word", "cnt"],
                        )
                        words, cnts = [], []
        if words:
            yield pa.RecordBatch.from_arrays(
                [pa.array(words, pa.string()), pa.array(cnts, pa.int64())],
                names=["word", "cnt"],
            )


class WordFileStreamReader(SimpleDataSourceStreamReader):
    """Streaming flavor: each microbatch picks up files that
    appeared since the last offset.  The offset is the sorted list
    of files already consumed — replayable (readBetweenOffsets
    re-reads exactly the files in (start, end]), so the source is
    exactly-once under Structured Streaming's offset log."""

    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("wordfile source requires a path")

    def _files(self):
        return sorted(
            {
                p
                for pat in ("part-*", "*.txt")
                for p in glob.glob(os.path.join(self.path, pat))
                if os.path.getsize(p) > 0
            }
        )

    def _rows(self, files):
        for path in files:
            with open(path, encoding="utf-8") as f:
                for line in f:
                    line = line.rstrip("\n")
                    if not line:
                        continue
                    word, _, cnt = line.rpartition(" ")
                    yield (word, int(cnt))

    def initialOffset(self) -> dict:
        return {"files": []}

    def read(self, start: dict):
        # materialized list, not a generator: the simple-reader
        # prefetch pickles the batch into the offset cache
        seen = set(start["files"])
        now = self._files()
        new = [p for p in now if p not in seen]
        return list(self._rows(new)), {"files": now}

    def readBetweenOffsets(self, start: dict, end: dict):
        seen = set(start["files"])
        return list(self._rows([p for p in end["files"] if p not in seen]))


@dataclass
class WordFileCommitMessage(WriterCommitMessage):
    """Per-task commit record: the staged temp file and row count.
    Must be picklable — it travels executor -> driver."""

    tmp: str
    pid: int
    n: int


# Foreign .tmp files older than this are treated as debris from a
# crashed job (live temps exist only for one task's duration) and
# swept at the next successful commit.
_STALE_TMP_TTL_S = 3600


class WordFileWriter(DataSourceWriter):
    """Parallel writer for the reference's `"word count"` sink
    format (maprdeuce.cpp:322-329) — one output file PER PARTITION
    (no `coalesce(1)` single-writer bottleneck: N tasks write N
    files concurrently, the same parallelism contract as the
    built-in file sinks; `write_wordcount_text` remains the
    single-golden-file helper for tiny vocabularies).

    Two-phase commit: each task streams rows into a dot-prefixed
    temp file (invisible to the reader's `part-*` glob), then the
    driver's `commit()` renames every staged temp into place only
    after ALL tasks succeeded — task retries/speculation never leave
    partial output visible, mirroring the Hadoop output-committer
    contract."""

    def __init__(self, options: dict, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("wordfile sink requires a path")
        self.overwrite = overwrite
        # Per-JOB id, chosen once on the driver and pickled to every
        # task: temp files carry it so commit()'s orphan sweep only
        # removes THIS job's losing speculative attempts — a
        # concurrent append job staging into the same directory
        # keeps its in-flight temps.
        self.job_id = uuid.uuid4().hex[:12]

    def write(self, iterator):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        os.makedirs(self.path, exist_ok=True)
        tmp = os.path.join(
            self.path,
            f".part-{pid:05d}-{self.job_id}-{uuid.uuid4().hex}.tmp",
        )
        n = 0
        with open(tmp, "w", encoding="utf-8") as f:
            for row in iterator:
                f.write(f"{row[0]} {row[1]}\n")
                n += 1
        return WordFileCommitMessage(tmp=tmp, pid=pid, n=n)

    def commit(self, messages):
        if self.overwrite:
            for stale in glob.glob(os.path.join(self.path, "part-*")):
                os.remove(stale)
        staged = {m.tmp for m in messages if m is not None}
        for m in messages:
            if m is None:
                continue
            # uuid suffix keeps append-mode files from colliding
            # with part files of earlier jobs at the same pid
            final = os.path.join(
                self.path,
                os.path.basename(m.tmp)[1:].removesuffix(".tmp") + ".txt",
            )
            os.replace(m.tmp, final)
        # drop temps of THIS job's speculative duplicates that lost
        # the race — scoped by job_id so a concurrent writer's
        # in-flight temps are never touched
        for orphan in glob.glob(
            os.path.join(self.path, f".part-*-{self.job_id}-*.tmp")
        ):
            if orphan not in staged:
                os.remove(orphan)
        # GC path for crashed jobs: a writer that died between
        # write() and commit()/abort() leaves foreign temps no one
        # else may touch while fresh.  Anything older than the TTL
        # cannot belong to a live job (temps live for one task
        # duration), so sweep it here to keep long-lived append
        # directories from accumulating dot-file litter.
        cutoff = time.time() - _STALE_TMP_TTL_S
        for stale in glob.glob(os.path.join(self.path, ".part-*.tmp")):
            if stale in staged:
                continue
            try:
                if os.path.getmtime(stale) < cutoff:
                    os.remove(stale)
            except OSError:
                pass  # already renamed/removed by its owner

    def abort(self, messages):
        for m in messages:
            if m is not None and os.path.exists(m.tmp):
                os.remove(m.tmp)


class WordFileDataSource(DataSource):
    """`spark.read.format("wordfile").load(dir)` over reference-
    format word-count text output; `spark.readStream` streams new
    files as they arrive; `df.write.format("wordfile")` writes it
    back with one file per partition."""

    @classmethod
    def name(cls) -> str:
        return "wordfile"

    def schema(self) -> str:
        return "word string, cnt bigint"

    def reader(self, schema) -> WordFileReader:
        return WordFileReader(self.options)

    def simpleStreamReader(self, schema) -> WordFileStreamReader:
        return WordFileStreamReader(self.options)

    def writer(self, schema, overwrite: bool) -> WordFileWriter:
        names = [f.name for f in schema.fields]
        if names != ["word", "cnt"]:
            raise ValueError(
                f"wordfile sink expects columns (word, cnt); got {names}"
            )
        return WordFileWriter(self.options, overwrite)


def register_wordfile_source(spark) -> None:
    """Idempotent registration of the custom source (enables the
    Python-data-source filter-pushdown path, off by default)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(WordFileDataSource)


def wordfile_sink_roundtrip(spark, sf_dir: str):
    """Driver-visible §2.1 #11-12 query: the flagship word count is
    WRITTEN through the custom parallel wordfile DataSource writer
    (two-phase commit, one file per partition), then READ BACK
    through the wordfile reader — the returned frame is the sink's
    own content, so the value-hash oracle certifies the whole
    write+read connector loop against plain SQL word count
    (maprdeuce.cpp:322-329 sink format, 1403-1427 read-back).

    Side-effecting like the stream_sink_* queries: the sink is
    written into a scratch dir that lives until interpreter exit
    (`streaming/jobs.py` `_scratch_dir`), and the returned frame
    reads it LAZILY — no driver collect of the vocabulary and
    nothing pinned in the block manager."""
    from ..operators.wordcount import wordcount
    from ..streaming.jobs import _scratch_dir

    register_wordfile_source(spark)
    out = os.path.join(_scratch_dir("wordfile_rt_"), "wc")
    wordcount(spark, sf_dir).write.format("wordfile").mode("overwrite").save(
        out
    )
    return spark.read.format("wordfile").load(out).orderBy("word")


def _register_roundtrip_query() -> None:
    from ..operators.wordcount import WORDCOUNT_ORACLE
    from ..registry import register

    register(
        "wordfile_sink_roundtrip", wordfile_sink_roundtrip, WORDCOUNT_ORACLE
    )


_register_roundtrip_query()

"""Seeded input generators for the benchmark, cached on disk by seed.

Two inputs:

* S3 server access-log text, one generated hour at a time: the 24-field
  AWS format, Zipf-skewed buckets, a mixed operation set, IAM-user,
  assumed-role and anonymous ``-`` requesters, ``-`` sentinels in the
  numeric fields, a fixed share of malformed lines (lines cut after the
  bucket field, and single-token lines), spread over many files per hour
  named ``YYYY-MM-DD-HH-MM-SS-<hash>`` in one flat source prefix. Each
  hour is drawn from a per-seed pool of lines and dated to its hour.
* A document corpus shaped like the ``documents`` table (doc_id, text,
  lang, source, n_chars) with injected exact and near duplicates.

The same seed always gives byte-identical inputs. Alongside the text the
generator keeps what it knows about each hour (line counts, the leaf
partitions its well-formed lines fall into, with their row counts and
byte sums), which the benchmark uses as the independent expected answer.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
from dataclasses import dataclass

import numpy as np

# ---------------------------------------------------------------------------
# Access-log properties (also stated in BENCHMARK.json's workload lines)
# ---------------------------------------------------------------------------

#: Part of every cache key: bump it when a change alters generated inputs.
VERSION = 2
BASE_HOUR = dt.datetime(2019, 2, 6, 0, 0, 0)
N_BUCKETS = 4
BUCKET_ZIPF = 1.2
FILES_PER_HOUR = 12
SHORT_SHARE = 0.01       # lines cut after the bucket field
STUB_SHARE = 0.01        # lines holding a single token
MALFORMED_SHARE = SHORT_SHARE + STUB_SHARE

OPERATIONS = (
    ("REST.GET.OBJECT", 0.46),
    ("REST.PUT.OBJECT", 0.16),
    ("REST.HEAD.OBJECT", 0.14),
    ("REST.GET.BUCKET", 0.08),
    ("REST.DELETE.OBJECT", 0.05),
    ("REST.COPY.OBJECT", 0.04),
    ("REST.POST.UPLOADS", 0.04),
    ("REST.GET.ACL", 0.03),
)
BUCKET_LEVEL_OPS = frozenset({"REST.GET.BUCKET", "REST.GET.ACL"})
METHOD = {
    "GET": "GET", "PUT": "PUT", "HEAD": "HEAD", "DELETE": "DELETE",
    "COPY": "PUT", "POST": "POST",
}
STATUS = (("200", 0.85), ("206", 0.03), ("304", 0.03), ("403", 0.03),
          ("404", 0.06))
ERROR_CODE = {"403": "AccessDenied", "404": "NoSuchKey"}
ACCOUNT = "123456789012"
N_USERS = 300
N_ROLES = 24
N_IPS = 4096
N_KEYS = 5000
MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep",
          "Oct", "Nov", "Dec")
USER_AGENTS = (
    "aws-sdk-java/1.11.1030 Linux/5.4 OpenJDK_64-Bit_Server_VM/25.292",
    "aws-cli/2.4.6 Python/3.8.8 Linux/5.10 exe/x86_64.amzn.2",
    "Boto3/1.20.24 Python/3.9.9 Linux/5.10 Botocore/1.23.24",
    "S3Console/0.4",
    "aws-sdk-go/1.42.23 (go1.17.5; linux; amd64)",
    "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36",
)
CIPHERS = ("ECDHE-RSA-AES128-GCM-SHA256", "TLS_AES_128_GCM_SHA256", "-")
TLS = ("TLSv1.2", "TLSv1.3", "-")
AUTH = ("AuthHeader", "QueryString", "-")


def _zipf_p(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


class _Pools:
    """Value pools shared by every hour of one seed."""

    def __init__(self, seed: int) -> None:
        rng = np.random.default_rng([seed, 0xB0CE])
        self.buckets = [f"logs-bkt-{k:02d}" for k in range(N_BUCKETS)]
        self.owner = "".join(rng.choice(list("0123456789abcdef"), 64))
        self.users = [
            f"arn:aws:iam::{ACCOUNT}:user/svc-{k:03d}" for k in range(N_USERS)
        ]
        self.roles = [
            f"arn:aws:sts::{ACCOUNT}:assumed-role/app-{r:02d}/i-{r * 97:05x}"
            for r in range(N_ROLES)
        ]
        octets = rng.integers(0, 256, size=(N_IPS, 3))
        self.ips = [f"10.{a}.{b}.{c}" for a, b, c in octets]
        self.keys = [
            f"data/p{k % 50:02d}/obj{k:05d}.parquet" for k in range(N_KEYS)
        ]
        alphabet = list("ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/")
        self.hostids = [
            "".join(rng.choice(alphabet, 56)) + "=" for _ in range(64)
        ]


@dataclass(frozen=True)
class HourInfo:
    """What the generator knows about one hour of log text."""

    index: int
    prefix: str                 # 'YYYY-MM-DD-HH', the export_hour argument
    part: tuple[int, int, int, int]  # (year, month, day, hour)
    n_lines: int
    text_bytes: int
    # (bucket, operation, rows, sum of bytessent) of each leaf partition
    # the well-formed rows of the hour fall into
    leaves: tuple[tuple[str, str, int, int], ...]


#: Stands for ``DD/Mon/YYYY:HH`` in pooled lines until an hour is cut.
DAY_HOUR = "@DAYHOUR@"


def _gen_pool(pools: _Pools, seed: int, n: int) -> dict:
    """``n`` log lines sorted by second of the hour, with ``DAY_HOUR`` in
    place of the date, and per line what the expected answers need:
    bucket and operation index, well-formedness, bytes sent and second."""
    rng = np.random.default_rng([seed, 0x9001])
    b_idx = rng.choice(N_BUCKETS, n, p=_zipf_p(N_BUCKETS, BUCKET_ZIPF))
    op_idx = rng.choice(len(OPERATIONS), n, p=[w for _, w in OPERATIONS])
    secs = np.sort(rng.integers(0, 3600, n))
    kind = rng.choice(3, n, p=[0.60, 0.25, 0.15])  # user / role / anonymous
    user_idx = rng.choice(N_USERS, n, p=_zipf_p(N_USERS, 1.05))
    role_idx = rng.integers(0, N_ROLES, n)
    ip_idx = rng.choice(N_IPS, n, p=_zipf_p(N_IPS, 0.9))
    key_idx = rng.choice(N_KEYS, n, p=_zipf_p(N_KEYS, 1.1))
    st_idx = rng.choice(len(STATUS), n, p=[w for _, w in STATUS])
    bytes_v = rng.lognormal(9.0, 2.0, n).astype(np.int64)
    bytes_dash = rng.random(n) < 0.12
    osize_v = bytes_v + rng.integers(0, 4096, n)
    osize_dash = rng.random(n) < 0.20
    total_v = rng.integers(1, 2000, n)
    turn_v = rng.integers(0, 400, n)
    turn_dash = rng.random(n) < 0.10
    ua_idx = rng.integers(0, len(USER_AGENTS), n)
    host_idx = rng.integers(0, len(pools.hostids), n)
    sig_dash = rng.random(n) < 0.05
    ci_idx = rng.integers(0, len(CIPHERS), n)
    au_idx = rng.integers(0, len(AUTH), n)
    tls_idx = rng.integers(0, len(TLS), n)
    rid = rng.integers(0, 1 << 62, n)
    bad = rng.random(n)
    short = bad < SHORT_SHARE
    stub = (bad >= SHORT_SHARE) & (bad < MALFORMED_SHARE)

    ops = [OPERATIONS[i][0] for i in op_idx]
    buckets = [pools.buckets[i] for i in b_idx]
    requesters = [
        pools.users[u] if k == 0 else pools.roles[r] if k == 1 else "-"
        for k, u, r in zip(kind.tolist(), user_idx.tolist(), role_idx.tolist())
    ]
    ips = [pools.ips[i] for i in ip_idx]
    keys = [
        "-" if o in BUCKET_LEVEL_OPS else pools.keys[k]
        for o, k in zip(ops, key_idx.tolist())
    ]
    statuses = [STATUS[i][0] for i in st_idx]
    bs = [None if d else int(v) for d, v in zip(bytes_dash.tolist(), bytes_v.tolist())]
    osz = [None if d else int(v) for d, v in zip(osize_dash.tolist(), osize_v.tolist())]
    tat = [None if d else int(v) for d, v in zip(turn_dash.tolist(), turn_v.tolist())]
    tt = total_v.tolist()
    minutes = (secs // 60).tolist()
    seconds = (secs % 60).tolist()
    stamps = [f"{DAY_HOUR}:{m:02d}:{s:02d} +0000" for m, s in zip(minutes, seconds)]

    lines = []
    for i in range(n):
        b, o, k = buckets[i], ops[i], keys[i]
        if short[i]:
            lines.append(f"{pools.owner} {b}")
            continue
        if stub[i]:
            lines.append(pools.owner[: 8 + i % 32])
            continue
        verb = METHOD[o.split(".")[1]]
        uri = f"/{b}" if k == "-" else f"/{b}/{k}"
        st = statuses[i]
        lines.append(
            f"{pools.owner} {b} [{stamps[i]}] {ips[i]} {requesters[i]} "
            f"{rid[i]:016X} {o} {k} \"{verb} {uri} HTTP/1.1\" {st} "
            f"{ERROR_CODE.get(st, '-')} {'-' if bs[i] is None else bs[i]} "
            f"{'-' if osz[i] is None else osz[i]} {tt[i]} "
            f"{'-' if tat[i] is None else tat[i]} \"-\" "
            f"\"{USER_AGENTS[ua_idx[i]]}\" - {pools.hostids[host_idx[i]]} "
            f"{'-' if sig_dash[i] else 'SigV4'} {CIPHERS[ci_idx[i]]} "
            f"{AUTH[au_idx[i]]} {b}.s3.us-east-1.amazonaws.com {TLS[tls_idx[i]]}"
        )
    return {
        "lines": np.array(lines, dtype=object),
        "leaf": b_idx * len(OPERATIONS) + op_idx,
        "ok": ~(short | stub),
        "bytes": np.where(bytes_dash, 0, bytes_v),
        "secs": secs,
    }


def _cut_hour(pools: _Pools, pool: dict, seed: int, index: int, n: int):
    """Hour ``index``: ``n`` lines drawn from the pool with replacement,
    deterministic in (seed, index), kept in time order and dated to the
    hour. Returns its :class:`HourInfo` and its files as (name, text)."""
    rng = np.random.default_rng([seed, index])
    start = BASE_HOUR + dt.timedelta(hours=index)
    idx = np.sort(rng.integers(0, len(pool["lines"]), n))
    day_hour = (f"{start.day:02d}/{MONTHS[start.month - 1]}/{start.year}:"
                f"{start.hour:02d}")
    ok = pool["ok"][idx]
    leaf = pool["leaf"][idx][ok]
    n_ops = len(OPERATIONS)
    rows = np.bincount(leaf, minlength=N_BUCKETS * n_ops)
    sums = np.bincount(leaf, weights=pool["bytes"][idx][ok],
                       minlength=N_BUCKETS * n_ops)
    leaves = tuple(
        (pools.buckets[k // n_ops], OPERATIONS[k % n_ops][0], int(rows[k]),
         int(sums[k]))
        for k in np.flatnonzero(rows)
    )
    prefix = start.strftime("%Y-%m-%d-%H")
    # many files per hour, named by the first request they hold
    cuts = np.linspace(0, n, FILES_PER_HOUR + 1).astype(int)
    files = []
    text_bytes = 0
    for f in range(FILES_PER_HOUR):
        lo, hi = int(cuts[f]), int(cuts[f + 1])
        s = int(pool["secs"][idx[lo]]) if lo < n else 0
        name = (f"{prefix}-{s // 60:02d}-{s % 60:02d}-"
                f"{int(rng.integers(0, 1 << 60)):016X}")
        text = ("\n".join(pool["lines"][idx[lo:hi]]) + "\n").replace(
            DAY_HOUR, day_hour)
        text_bytes += len(text)
        files.append((name, text))
    info = HourInfo(
        index=index,
        prefix=prefix,
        part=(start.year, start.month, start.day, start.hour),
        n_lines=n,
        text_bytes=text_bytes,
        leaves=tuple(sorted(leaves)),
    )
    return info, files


class LogHours:
    """Hours of log text for one seed, written under ``<root>/src`` (one
    flat prefix, as an S3 log bucket is) and cached on disk. Each hour is
    cut from a per-seed pool of lines the first time it is asked for, so
    a run writes only the hours it uses; a later run with the same seed
    reuses them."""

    def __init__(self, cache_dir: str, seed: int, lines_per_hour: int):
        tag = f"logs-v{VERSION}-s{seed}-n{lines_per_hour}"
        self.root = os.path.join(cache_dir, tag)
        self.src = os.path.join(self.root, "src")
        self.seed = seed
        self.lines_per_hour = lines_per_hour
        self._pools = self._pool = None
        os.makedirs(self.src, exist_ok=True)
        os.utime(self.root)  # most recently used, for prune()

    def hour(self, i: int) -> HourInfo:
        manifest = os.path.join(self.root, f"hour-{i:05d}.json")
        if not os.path.exists(manifest):
            self._write_hour(i, manifest)
        with open(manifest) as fh:
            h = json.load(fh)
        return HourInfo(**{**h, "part": tuple(h["part"]),
                           "leaves": tuple(map(tuple, h["leaves"]))})

    def _write_hour(self, i: int, manifest: str) -> None:
        if self._pool is None:
            self._pools = _Pools(self.seed)
            self._pool = _gen_pool(self._pools, self.seed, self.lines_per_hour)
        info, files = _cut_hour(self._pools, self._pool, self.seed, i,
                                self.lines_per_hour)
        for name, text in files:
            # fsync, so the write-back does not compete with the next op
            with open(os.path.join(self.src, name), "w") as fh:
                fh.write(text)
                fh.flush()
                os.fsync(fh.fileno())
        with open(manifest + ".tmp", "w") as fh:
            json.dump(info.__dict__, fh)
        os.rename(manifest + ".tmp", manifest)


def prune(cache_dir: str, keep: int) -> None:
    """Drop all but the ``keep`` most recently used cached inputs."""
    entries = sorted(
        (os.path.join(cache_dir, e) for e in os.listdir(cache_dir)),
        key=os.path.getmtime, reverse=True,
    )
    for path in entries[keep:]:
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        else:
            os.remove(path)


# ---------------------------------------------------------------------------
# Document corpus
# ---------------------------------------------------------------------------

EN_STOP = ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")
DE_STOP = ("der", "die", "das", "und", "ist", "ein", "nicht", "mit", "auf", "ich")
CONTENT = tuple(
    f"{a}{b}" for a in ("data", "query", "table", "spark", "stream", "token",
                        "model", "index", "shard", "batch", "vector", "log")
    for b in ("", "s", "ing", "er", "ed", "ion", "al", "ly", "ure", "ist")
)
NON_EN_SHARE = 0.05
LOW_QUALITY_SHARE = 0.05
EXACT_DUP_SHARE = 0.05
NEAR_DUP_SHARE = 0.05


@dataclass(frozen=True)
class CorpusInfo:
    path: str
    n_docs: int
    n_exact_dups: int
    n_near_dups: int
    text_bytes: int


def _doc_text(rng: np.random.Generator, kind: str) -> str:
    if kind == "low":
        w = CONTENT[int(rng.integers(0, len(CONTENT)))]
        return " ".join([w] * int(rng.integers(3, 7)))
    n = int(rng.integers(60, 180))
    stop = EN_STOP if kind == "en" else DE_STOP
    is_stop = rng.random(n) < 0.3
    s_idx = rng.integers(0, len(stop), n)
    c_idx = rng.integers(0, len(CONTENT), n)
    return " ".join(
        stop[s] if f else CONTENT[c]
        for f, s, c in zip(is_stop.tolist(), s_idx.tolist(), c_idx.tolist())
    )


def corpus(cache_dir: str, seed: int, n_base: int) -> CorpusInfo:
    """``n_base`` original documents plus injected duplicates, written
    once per seed as one parquet file: exact copies (same text, new id)
    and near copies (two words changed) of English originals."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(cache_dir, f"docs-v{VERSION}-s{seed}-n{n_base}.parquet")
    rng = np.random.default_rng([seed, 0xD0C5])
    n_exact = int(round(n_base * EXACT_DUP_SHARE))
    n_near = int(round(n_base * NEAR_DUP_SHARE))
    kinds = rng.choice(
        ["en", "de", "low"], n_base,
        p=[1 - NON_EN_SHARE - LOW_QUALITY_SHARE, NON_EN_SHARE, LOW_QUALITY_SHARE],
    ).tolist()
    texts = [_doc_text(rng, k) for k in kinds]
    langs = ["de" if k == "de" else "en" for k in kinds]
    en = [i for i, k in enumerate(kinds) if k == "en"]
    originals = rng.choice(en, n_exact + n_near, replace=False).tolist()
    for j, o in enumerate(originals):
        words = texts[o].split(" ")
        if j >= n_exact:
            for p in rng.choice(len(words), 2, replace=False).tolist():
                words[p] = CONTENT[int(rng.integers(0, len(CONTENT)))]
        texts.append(" ".join(words))
        langs.append("en")
    n = len(texts)
    # shuffle so copies are not clustered at the end of the id space
    order = rng.permutation(n).tolist()
    texts = [texts[i] for i in order]
    langs = [langs[i] for i in order]
    info = CorpusInfo(path, n, n_exact, n_near,
                      sum(len(t.encode()) for t in texts))
    if os.path.exists(path):
        os.utime(path)  # most recently used, for prune()
    else:
        os.makedirs(cache_dir, exist_ok=True)
        tmp = f"{path}.tmp{os.getpid()}"
        pq.write_table(
            pa.table({
                "doc_id": pa.array(range(n), pa.int64()),
                "text": texts,
                "lang": langs,
                "source": [f"src{i % 7}" for i in range(n)],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }),
            tmp,
        )
        os.rename(tmp, path)
    return info

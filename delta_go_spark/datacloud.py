"""Native cloud pass-through: when the JVM can reach the table's object
store itself (hadoop-aws, gcs-connector, hadoop-azure on the classpath),
cloud URIs are handed straight to Spark — executors stream ranged reads
and direct writes against the store, and the driver-side SDK data cache
(datacache.py) never runs.  The SDK cache remains the connector-less
fallback that keeps the engine correct in pure-Python environments.

Decision order, per scheme, cached for the process lifetime:

1. Explicit override: the Spark conf ``spark.delta_go.nativeCloud`` or
   the env var ``DGS_NATIVE_CLOUD`` set to true/false wins outright.
   (The env var is also the only signal available inside Spark 4's
   separate Python DataSource planning worker, which has no JVM handle.)
2. Auto-probe: ask the JVM for a Hadoop FileSystem for the scheme; a
   missing connector raises (No FileSystem for scheme / ClassNotFound)
   and the SDK fallback stays in effect.

The LOG always goes through the LogStore abstraction regardless — the
reference's storage contract (store.go:16-27) keeps commit writes
driver-only and atomic; only DATA bytes take the native path.
"""

from __future__ import annotations

import os

_TRUE = {"1", "true", "yes", "on"}
_FALSE = {"0", "false", "no", "off"}

# (scheme, authority) -> probe result, cached per driver process (a
# classpath cannot change mid-process, so one probe per target is enough;
# authority matters because some filesystems resolve per-authority —
# viewfs mount tables, per-bucket s3a impl overrides)
_probe_cache: dict[str, bool] = {}


def _probe_key(uri: str) -> str:
    if "://" not in uri:
        return "file"
    scheme, rest = uri.split("://", 1)
    return f"{scheme.lower()}://{rest.split('/', 1)[0]}"


def _flag(spark) -> bool | None:
    """The explicit override, or None for auto."""
    raw = os.environ.get("DGS_NATIVE_CLOUD")
    if spark is not None:
        try:
            raw = spark.conf.get("spark.delta_go.nativeCloud", raw)
        except Exception:
            pass
    if raw is None:
        return None
    val = str(raw).strip().lower()
    if val in _TRUE:
        return True
    if val in _FALSE:
        return False
    return None  # "auto" or anything unrecognized: probe


def _jvm_probe(spark, uri: str) -> bool | None:
    """True iff the JVM resolves a Hadoop FileSystem for the URI; None
    when the probe could not run AT ALL (no session handle) — only a
    definitive verdict may be cached.  The REAL table URI is probed (not
    a synthetic one): resolution can be authority-specific (viewfs mount
    tables, per-bucket overrides), and FileSystem.get performs no
    network I/O — it only instantiates the connector class, so a missing
    jar raises UnsupportedFileSystemException/ClassNotFound right here.
    Any OTHER exception is treated as not-probed (None), not as "no
    connector": caching a transient failure would permanently disable
    the native path for the scheme in this process."""
    if spark is None:
        return None
    try:
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        juri = jvm.java.net.URI(uri)
        jvm.org.apache.hadoop.fs.FileSystem.get(juri, conf)
        return True
    except Exception as e:
        msg = str(e)
        if (
            "No FileSystem for scheme" in msg
            or "UnsupportedFileSystemException" in msg
            or "ClassNotFoundException" in msg
        ):
            return False
        return None


def use_native_cloud(spark, uri: str, option: str | None = None) -> bool:
    """Should this cloud URI be handed straight to Spark?

    `option` carries a per-read/write override (e.g. the DataSource's
    ``nativeCloud`` option) and beats the session-level flag; pass None
    to defer to conf/env/auto-probe.  With spark=None (DataSource
    planning worker, or a py4j-pinned thread where getActiveSession()
    is None) only explicit flags can enable the native path — and that
    inconclusive state is NOT cached, so a later call with a real
    session still probes.
    """
    if option is not None:
        val = str(option).strip().lower()
        if val in _TRUE:
            return True
        if val in _FALSE:
            return False
    flag = _flag(spark)
    if flag is not None:
        return flag
    key = _probe_key(uri)
    if key not in _probe_cache:
        verdict = _jvm_probe(spark, uri)
        if verdict is None:
            return False  # inconclusive: fall back now, probe again later
        _probe_cache[key] = verdict
    return _probe_cache[key]


def hadoop_list_files(spark, dir_uri: str) -> list[tuple[str, int, int]]:
    """Recursive (absolute_uri, size_bytes, mtime_millis) listing of a
    directory through the JVM's Hadoop FileSystem — the post-write
    enumeration for the native write path (no SDK round trips)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(dir_uri)
    fs = path.getFileSystem(conf)
    it = fs.listFiles(path, True)
    out: list[tuple[str, int, int]] = []
    while it.hasNext():
        st = it.next()
        out.append(
            (st.getPath().toString(), st.getLen(), st.getModificationTime())
        )
    return out

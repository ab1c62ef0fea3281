"""The 7 Delta log action types + the SingleAction JSON envelope.

Reference: action/action.go:53-61 (envelope), action/add.go, remove.go,
metadata.go, protocol.go, trx.go, cdc.go, commit_info.go.  Serialization
matches Go's `omitempty` field-presence semantics so logs we write are
byte-compatible with what the reference (and delta-standalone) expect.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any
from urllib.parse import quote, unquote


@dataclass
class AddFile:
    """reference: action/add.go:10-18."""

    path: str
    partition_values: dict[str, str | None] = field(default_factory=dict)
    size: int = 0
    modification_time: int = 0
    data_change: bool = True
    stats: str | None = None
    tags: dict[str, str] | None = None

    def decoded_path(self) -> str:
        return unquote(self.path)

    def to_json_obj(self) -> dict[str, Any]:
        o: dict[str, Any] = {
            "path": self.path,
            "partitionValues": self.partition_values,
            "size": self.size,
            "modificationTime": self.modification_time,
            "dataChange": self.data_change,
        }
        if self.stats:
            o["stats"] = self.stats
        if self.tags:
            o["tags"] = self.tags
        return o

    @staticmethod
    def from_json_obj(o: dict[str, Any]) -> "AddFile":
        return AddFile(
            path=o["path"],
            partition_values=o.get("partitionValues") or {},
            size=o.get("size", 0),
            modification_time=o.get("modificationTime", 0),
            data_change=o.get("dataChange", False),
            stats=o.get("stats"),
            tags=o.get("tags"),
        )

    def remove(self, deletion_timestamp: int, data_change: bool = True) -> "RemoveFile":
        """Build the matching tombstone (reference: action/add.go:33-44)."""
        return RemoveFile(
            path=self.path,
            deletion_timestamp=deletion_timestamp,
            data_change=data_change,
            extended_file_metadata=True,
            partition_values=self.partition_values,
            size=self.size,
        )


@dataclass
class RemoveFile:
    """reference: action/remove.go:9-17."""

    path: str
    deletion_timestamp: int | None = None
    data_change: bool = True
    extended_file_metadata: bool = False
    partition_values: dict[str, str | None] | None = None
    size: int | None = None
    tags: dict[str, str] | None = None

    def decoded_path(self) -> str:
        return unquote(self.path)

    def to_json_obj(self) -> dict[str, Any]:
        o: dict[str, Any] = {"path": self.path}
        if self.deletion_timestamp is not None:
            o["deletionTimestamp"] = self.deletion_timestamp
        o["dataChange"] = self.data_change
        if self.extended_file_metadata:
            o["extendedFileMetadata"] = True
            if self.partition_values is not None:
                o["partitionValues"] = self.partition_values
            if self.size is not None:
                o["size"] = self.size
        if self.tags:
            o["tags"] = self.tags
        return o

    @staticmethod
    def from_json_obj(o: dict[str, Any]) -> "RemoveFile":
        return RemoveFile(
            path=o["path"],
            deletion_timestamp=o.get("deletionTimestamp"),
            data_change=o.get("dataChange", False),
            extended_file_metadata=o.get("extendedFileMetadata", False),
            partition_values=o.get("partitionValues"),
            size=o.get("size"),
            tags=o.get("tags"),
        )


@dataclass
class Format:
    provider: str = "parquet"
    options: dict[str, str] = field(default_factory=dict)


@dataclass
class Metadata:
    """reference: action/metadata.go:13-22."""

    id: str = ""
    name: str | None = None
    description: str | None = None
    format: Format = field(default_factory=Format)
    schema_string: str = ""
    partition_columns: list[str] = field(default_factory=list)
    configuration: dict[str, str] = field(default_factory=dict)
    created_time: int | None = None

    def to_json_obj(self) -> dict[str, Any]:
        o: dict[str, Any] = {"id": self.id}
        if self.name is not None:
            o["name"] = self.name
        if self.description is not None:
            o["description"] = self.description
        o["format"] = {"provider": self.format.provider, "options": self.format.options}
        o["schemaString"] = self.schema_string
        o["partitionColumns"] = self.partition_columns
        o["configuration"] = self.configuration
        if self.created_time is not None:
            o["createdTime"] = self.created_time
        return o

    @staticmethod
    def from_json_obj(o: dict[str, Any]) -> "Metadata":
        fmt = o.get("format") or {}
        return Metadata(
            id=o.get("id", ""),
            name=o.get("name"),
            description=o.get("description"),
            format=Format(fmt.get("provider", "parquet"), fmt.get("options") or {}),
            schema_string=o.get("schemaString", ""),
            partition_columns=o.get("partitionColumns") or [],
            configuration=o.get("configuration") or {},
            created_time=o.get("createdTime"),
        )

    def schema(self):
        from delta_go_spark.types import schema_from_json

        return schema_from_json(self.schema_string) if self.schema_string else None

    def partition_schema(self):
        """reference: action/metadata.go:55-70."""
        from pyspark.sql.types import StructType

        s = self.schema()
        if s is None:
            return StructType([])
        by_name = {f.name: f for f in s.fields}
        return StructType([by_name[c] for c in self.partition_columns if c in by_name])


# Protocol versions are pinned (reference: action/action.go:10-11,
# trnx.go:500-508).
READER_VERSION = 1
WRITER_VERSION = 2


@dataclass
class Protocol:
    """reference: action/protocol.go:3-6."""

    min_reader_version: int = READER_VERSION
    min_writer_version: int = WRITER_VERSION

    def to_json_obj(self) -> dict[str, Any]:
        return {
            "minReaderVersion": self.min_reader_version,
            "minWriterVersion": self.min_writer_version,
        }

    @staticmethod
    def from_json_obj(o: dict[str, Any]) -> "Protocol":
        return Protocol(o.get("minReaderVersion", 0), o.get("minWriterVersion", 0))


@dataclass
class SetTransaction:
    """Idempotent streaming-writer marker (reference: action/trx.go:3-7)."""

    app_id: str
    version: int
    last_updated: int | None = None

    def to_json_obj(self) -> dict[str, Any]:
        o: dict[str, Any] = {"appId": self.app_id, "version": self.version}
        if self.last_updated is not None:
            o["lastUpdated"] = self.last_updated
        return o

    @staticmethod
    def from_json_obj(o: dict[str, Any]) -> "SetTransaction":
        return SetTransaction(o.get("appId", ""), o.get("version", 0), o.get("lastUpdated"))


@dataclass
class AddCDCFile:
    """Change-data file (reference carries it uninterpreted, action/cdc.go:
    7-13; this engine also writes and reads them — dml.py/cdf.py)."""

    path: str
    partition_values: dict[str, str | None] = field(default_factory=dict)
    size: int = 0
    tags: dict[str, str] | None = None

    def decoded_path(self) -> str:
        return unquote(self.path)

    def to_json_obj(self) -> dict[str, Any]:
        o: dict[str, Any] = {
            "path": self.path,
            "partitionValues": self.partition_values,
            "size": self.size,
        }
        if self.tags:
            o["tags"] = self.tags
        return o

    @staticmethod
    def from_json_obj(o: dict[str, Any]) -> "AddCDCFile":
        return AddCDCFile(
            path=o["path"],
            partition_values=o.get("partitionValues") or {},
            size=o.get("size", 0),
            tags=o.get("tags"),
        )


@dataclass
class CommitInfo:
    """reference: action/commit_info.go:13-29.  All fields optional."""

    version: int | None = None
    timestamp: int | None = None
    user_id: str | None = None
    user_name: str | None = None
    operation: str | None = None
    operation_parameters: dict[str, Any] | None = None
    job: dict[str, Any] | None = None
    notebook: dict[str, Any] | None = None
    cluster_id: str | None = None
    read_version: int | None = None
    isolation_level: str | None = None
    is_blind_append: bool | None = None
    operation_metrics: dict[str, Any] | None = None
    user_metadata: str | None = None
    engine_info: str | None = None

    _FIELDS = [
        ("version", "version"),
        ("timestamp", "timestamp"),
        ("user_id", "userId"),
        ("user_name", "userName"),
        ("operation", "operation"),
        ("operation_parameters", "operationParameters"),
        ("job", "job"),
        ("notebook", "notebook"),
        ("cluster_id", "clusterId"),
        ("read_version", "readVersion"),
        ("isolation_level", "isolationLevel"),
        ("is_blind_append", "isBlindAppend"),
        ("operation_metrics", "operationMetrics"),
        ("user_metadata", "userMetadata"),
        ("engine_info", "engineInfo"),
    ]

    def to_json_obj(self) -> dict[str, Any]:
        o: dict[str, Any] = {}
        for attr, key in self._FIELDS:
            v = getattr(self, attr)
            if v is not None:
                o[key] = v
        return o

    @staticmethod
    def from_json_obj(o: dict[str, Any]) -> "CommitInfo":
        ci = CommitInfo()
        for attr, key in CommitInfo._FIELDS:
            if key in o:
                setattr(ci, attr, o[key])
        return ci


Action = AddFile | RemoveFile | Metadata | Protocol | SetTransaction | AddCDCFile | CommitInfo

# SingleAction envelope keys (reference: action/action.go:53-61).
_ENVELOPE: list[tuple[str, type]] = [
    ("txn", SetTransaction),
    ("add", AddFile),
    ("remove", RemoveFile),
    ("metaData", Metadata),
    ("protocol", Protocol),
    ("cdc", AddCDCFile),
    ("commitInfo", CommitInfo),
]
_KEY_BY_TYPE = {cls: key for key, cls in _ENVELOPE}


def action_to_json(action: Action) -> str:
    """One SingleAction JSON line (reference: action/utils.go:29-38)."""
    key = _KEY_BY_TYPE[type(action)]
    return json.dumps({key: action.to_json_obj()}, separators=(",", ":"))


def action_from_json(line: str) -> Action | None:
    """Parse one SingleAction JSON line (reference: action/action.go:26-33)."""
    o = json.loads(line)
    for key, cls in _ENVELOPE:
        if key in o and o[key] is not None:
            return cls.from_json_obj(o[key])
    return None


def read_commit_actions(store, path: str):
    """The actions of one commit file in file order, as a generator;
    lines of unknown action types are skipped."""
    for line in store.read(path):
        a = action_from_json(line)
        if a is not None:
            yield a


def encode_path(path: str) -> str:
    """Percent-encode a relative file path for storage in the log, the way
    delta writes paths (RFC 2396-ish; '/' kept)."""
    return quote(path, safe="/")

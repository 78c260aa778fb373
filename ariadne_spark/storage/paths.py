"""Storage layout + index-name validation.

Layout under ``{storagePath}``::

    indexes/{name}/metadata.json        index metadata document
    indexes/{name}/filelist/            ParquetTable (filename)
    indexes/{name}/index/               ParquetTable main index (key: filename)
    indexes/{name}/large_indexes/{col}/ ParquetTable (filename, value)
    indexes/{name}/staging/             ParquetTable staging rows
    indexes/{name}/locks/               lock files

Name validation follows the reference's policy of rejecting path
traversal and illegal characters (reference:
src/main/scala/dev/cjfravel/ariadne/IndexPathUtils.scala:14 and its
IndexPathUtilsTests).
"""

from __future__ import annotations

import re

from ..exceptions import InvalidIndexNameError

_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_\-.]{0,254}$")


def validate_index_name(name: str) -> str:
    if not isinstance(name, str) or not _NAME_RE.match(name) or ".." in name:
        raise InvalidIndexNameError(f"invalid index name: {name!r}")
    return name


def validate_column_name(col: str) -> str:
    """Large-index subdirectories embed a column name; keep it path-safe."""
    if not isinstance(col, str) or "/" in col or "\\" in col or ".." in col or not col:
        raise InvalidIndexNameError(f"invalid column name for storage: {col!r}")
    return col


class IndexPaths:
    def __init__(self, storage_path: str, name: str) -> None:
        validate_index_name(name)
        self.root = f"{storage_path}/indexes/{name}"
        self.metadata = f"{self.root}/metadata.json"
        self.filelist = f"{self.root}/filelist"
        self.index = f"{self.root}/index"
        self.staging = f"{self.root}/staging"
        self.locks = f"{self.root}/locks"
        self.large_root = f"{self.root}/large_indexes"

    def large_index(self, col: str) -> str:
        return f"{self.large_root}/{validate_column_name(col)}"


def indexes_root(storage_path: str) -> str:
    return f"{storage_path}/indexes"

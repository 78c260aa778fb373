"""Exception hierarchy for ariadne-spark.

Mirrors the *categories* of the reference's 16 exception types
(reference: src/main/scala/dev/cjfravel/ariadne/exceptions/) without
copying any code: each names a user-facing failure mode of the index
lifecycle.
"""

from __future__ import annotations


class AriadneError(Exception):
    """Base class for all ariadne-spark errors."""


class StoragePathNotSetError(AriadneError):
    """spark.ariadne.storagePath is required but unset."""


class InvalidIndexNameError(AriadneError):
    """Index name fails validation (path traversal / illegal chars)."""


class SchemaNotProvidedError(AriadneError):
    """Creating a new index requires an explicit schema."""


class MissingFormatError(AriadneError):
    """Creating a new index requires a file format (csv/json/parquet)."""


class UnsupportedFormatError(AriadneError):
    """Only csv, json, parquet and orc sources are supported."""


class SchemaMismatchError(AriadneError):
    """Provided schema differs from the persisted schema."""


class FormatMismatchError(AriadneError):
    """Provided format differs from the persisted format."""


class ColumnNotFoundError(AriadneError):
    """Referenced column does not exist in the source schema."""


class NotTopLevelColumnError(AriadneError):
    """Indexed value columns must be top-level (no dotted paths)."""


class NotArrayColumnError(AriadneError):
    """Exploded-field indexes require an ArrayType column."""


class IndexTypeConflictError(AriadneError):
    """A column already carries a different index type (one type per column)."""


class ColumnNotIndexedError(AriadneError):
    """Join/locate requested on a column with no index."""


class LockAcquisitionError(AriadneError):
    """Could not acquire the index lock within lockMaxWait."""


class LockNotHeldError(AriadneError):
    """Release/refresh attempted by a non-owner correlation id."""


class IndexNotFoundError(AriadneError):
    """Named index does not exist under the storage path."""


class TableCommitConflictError(AriadneError):
    """Optimistic manifest commit lost a race and exhausted retries."""


class InvalidFprError(AriadneError):
    """Bloom false-positive rate outside the open interval (0, 1)."""


class ReservedColumnError(AriadneError):
    """Column name collides with an internal engine column."""


class UnsupportedMetadataVersionError(AriadneError):
    """metadata.json was written by a newer engine (metadata_version
    above this build's METADATA_VERSION); refuse rather than misread
    (reference: UnsupportedMetadataVersionException)."""


class UnsupportedStorageFormatVersionError(AriadneError):
    """Index storage layout is newer than this build supports
    (reference: UnsupportedStorageFormatVersionException)."""


class InvalidMetadataError(AriadneError):
    """Persisted index metadata is unreadable or missing required
    fields (reference: IndexMetadataTests.scala:384-397 rejects
    metadata without format/schema)."""

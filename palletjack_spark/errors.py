"""Error types mirroring the reference's validation semantics.

The reference raises RuntimeError from C++ for: out-of-range row group /
column indices (palletjack.cc:383-393, 403-411), passing both column names
and indices (cc:397-401), unknown column names (cc:449-453), bad index-file
magic (cc:377-381, 638-642), truncated index buffers (cc:663-676), and
encrypted column metadata (cc:217-221).  We surface the same conditions as
typed Python exceptions with messages that name the offending value.
"""


class PalletJackSparkError(RuntimeError):
    """Base class for all engine errors."""


class InvalidSelectionError(PalletJackSparkError):
    """Out-of-range / unknown / mutually-exclusive row-group or column
    selection (reference palletjack.cc:377-457)."""


class IndexFormatError(PalletJackSparkError):
    """The given path/DataFrame is not a valid metadata index
    (reference magic check 'PJ_2', palletjack.cc:638-642)."""


class EncryptedParquetError(PalletJackSparkError):
    """Encrypted Parquet metadata is not supported
    (reference palletjack.cc:217-221)."""


class ScanCastError(PalletJackSparkError):
    """A column's values do not fit the Spark type the scan declares for
    it, e.g. a uint64 past 2**63 read as a Spark LONG."""

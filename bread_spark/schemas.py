"""Explicit StructTypes for raw Tendermint/Cosmos JSON and silver tables.

Never infer schemas on chain data (SURVEY.md §1.5): inference at 100 TB
means an extra full pass and silent drift when a field goes missing in a
batch. These schemas mirror the documents the reference consumes
(FIXTURES.md §1-2; reference extract.py:148-173 fetches them,
parse.py:130-180 consumes them).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# --------------------------------------------------------------------------
# Raw (bronze) documents — one JSON object per line/array element
# --------------------------------------------------------------------------

# block_search result item (FIXTURES.md §1; consumed at reference parse.py:134)
RAW_BLOCK_SCHEMA = StructType(
    [
        StructField("block_id", StructType([StructField("hash", StringType())])),
        StructField(
            "block",
            StructType(
                [
                    StructField(
                        "header",
                        StructType(
                            [
                                # heights/gas arrive as STRING ints on the wire
                                StructField("height", StringType()),
                                StructField("chain_id", StringType()),
                                StructField("time", StringType()),  # RFC3339, ns precision
                                StructField("proposer_address", StringType()),
                            ]
                        ),
                    ),
                    StructField(
                        "data",
                        StructType([StructField("txs", ArrayType(StringType()))]),
                    ),
                ]
            ),
        ),
    ]
)

# event attribute — keys/values base64-encoded at source (reference parse.py:51-64)
ATTRIBUTE_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("value", StringType()),
        StructField("index", BooleanType()),
    ]
)

EVENT_SCHEMA = StructType(
    [
        StructField("type", StringType()),
        StructField("attributes", ArrayType(ATTRIBUTE_SCHEMA)),
    ]
)

# tx_search result item (FIXTURES.md §2; consumed at reference parse.py:141-180)
RAW_TX_SCHEMA = StructType(
    [
        StructField("hash", StringType()),
        StructField("height", StringType()),
        StructField("index", IntegerType()),
        StructField("tx", StringType()),  # base64 protobuf, not parsed (parity)
        StructField(
            "tx_result",
            StructType(
                [
                    StructField("code", IntegerType()),
                    StructField("data", StringType()),
                    StructField("log", StringType()),  # STRINGIFIED JSON array
                    StructField("info", StringType()),
                    StructField("gas_wanted", StringType()),
                    StructField("gas_used", StringType()),
                    StructField("codespace", StringType()),
                    StructField("events", ArrayType(EVENT_SCHEMA)),
                ]
            ),
        ),
    ]
)

# the `log` string column parses to this (reference parse.py:152-162):
# [{"msg_index": 0, "events": [{"type": ..., "attributes": [{"key","value"}]}]}]
LOG_ATTR_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("value", StringType()),
    ]
)
LOG_EVENT_SCHEMA = StructType(
    [
        StructField("type", StringType()),
        StructField("attributes", ArrayType(LOG_ATTR_SCHEMA)),
    ]
)
LOG_SCHEMA = ArrayType(
    StructType(
        [
            StructField("msg_index", LongType()),
            StructField("events", ArrayType(LOG_EVENT_SCHEMA)),
        ]
    )
)

# --------------------------------------------------------------------------
# Silver tables (FIXTURES.md §3; reference parse.py:139,162,224)
# --------------------------------------------------------------------------

TX_RESULT_COLUMNS = [
    "hash",
    "height",
    "time",
    "day",
    "month",
    "year",
    "gas_wanted",
    "gas_used",
    "code",
    "codespace",
    "info",
]

LOG_ATTRIBUTES_COLUMNS = [
    "hash",
    "height",
    "msg_index",
    "type",
    "key",
    "value",
    "time",
    "day",
    "month",
    "year",
]

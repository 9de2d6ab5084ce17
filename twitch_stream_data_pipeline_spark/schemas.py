"""Fixed StructType registry for every dataset the engine touches.

The reference infers dtypes per read and patches them ad hoc
(``scripts/get_raw_data/get_raw_streams_data.py:35`` forces
``time_of_day_id`` to str; ``scripts/process_raw_data/
process_raw_genre_bridge_data.py:65-70`` patches id columns;
``keep_default_na=False`` makes the literal string ``"NA"`` data,
``scripts/curate_data/curate_categories_data.py:49,59``). That is the
bug class a schema registry removes: every dataset gets exactly one
explicit schema, ids are strings by contract (Twitch ids exceed int32
and carry non-numeric test values), and sentinel handling is a policy
applied at the edge (see ``operators.cleaning``), not a read option.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Raw layer — JSON envelopes: {day_date_id, time_of_day_id, data: [...]}
# (envelope construction: scripts/get_raw_data/get_raw_streams_data.py:113-117)
# ---------------------------------------------------------------------------

RAW_STREAM_RECORD = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("user_id", T.StringType()),
        T.StructField("user_login", T.StringType()),
        T.StructField("user_name", T.StringType()),
        T.StructField("game_id", T.StringType()),
        T.StructField("game_name", T.StringType()),
        T.StructField("type", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("viewer_count", T.IntegerType()),
        T.StructField("started_at", T.StringType()),
        T.StructField("language", T.StringType()),
        T.StructField("thumbnail_url", T.StringType()),
        T.StructField("tag_ids", T.ArrayType(T.StringType())),
        T.StructField("tags", T.ArrayType(T.StringType())),
        T.StructField("is_mature", T.BooleanType()),
    ]
)

RAW_CATEGORY_RECORD = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("box_art_url", T.StringType()),
        T.StructField("igdb_id", T.StringType()),
    ]
)

RAW_USER_RECORD = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("login", T.StringType()),
        T.StructField("display_name", T.StringType()),
        T.StructField("type", T.StringType()),
        T.StructField("broadcaster_type", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("profile_image_url", T.StringType()),
        T.StructField("offline_image_url", T.StringType()),
        T.StructField("view_count", T.IntegerType()),
        T.StructField("created_at", T.StringType()),
    ]
)

# IGDB bridge lookups: genres / game_modes arrays may be absent (~10%).
RAW_GENRE_BRIDGE_RECORD = T.StructType(
    [
        T.StructField("id", T.LongType()),  # igdb_id
        T.StructField("name", T.StringType()),
        T.StructField("genres", T.ArrayType(T.LongType())),
    ]
)

RAW_GAME_MODE_BRIDGE_RECORD = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("game_modes", T.ArrayType(T.LongType())),
    ]
)


# IGDB flat dimension lookups (genres / game modes): identical record
# shape, renamed per-dim downstream
# (scripts/process_raw_data/process_raw_genres_data.py:55-57,
#  process_raw_game_modes_data.py).
RAW_IGDB_DIM_RECORD = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("created_at", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("slug", T.StringType()),
        T.StructField("updated_at", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("checksum", T.StringType()),
    ]
)


def envelope(record_schema: T.StructType) -> T.StructType:
    """Raw-layer JSON envelope wrapping a record array.

    Reference: scripts/get_raw_data/get_raw_streams_data.py:113-117 and
    scripts/get_raw_data/get_raw_categories_data.py:103-107.
    """
    return T.StructType(
        [
            T.StructField("day_date_id", T.StringType()),
            T.StructField("time_of_day_id", T.StringType()),
            T.StructField("data", T.ArrayType(record_schema)),
        ]
    )


RAW_STREAMS_ENVELOPE = envelope(RAW_STREAM_RECORD)
RAW_CATEGORIES_ENVELOPE = envelope(RAW_CATEGORY_RECORD)
RAW_USERS_ENVELOPE = envelope(RAW_USER_RECORD)
RAW_GENRE_BRIDGE_ENVELOPE = envelope(RAW_GENRE_BRIDGE_RECORD)
RAW_GAME_MODE_BRIDGE_ENVELOPE = envelope(RAW_GAME_MODE_BRIDGE_RECORD)
# genres/game-modes raw envelopes carry day_date_id only; the shared
# envelope schema still applies (time_of_day_id reads as NULL).
RAW_GENRES_ENVELOPE = envelope(RAW_IGDB_DIM_RECORD)
RAW_GAME_MODES_ENVELOPE = envelope(RAW_IGDB_DIM_RECORD)

# ---------------------------------------------------------------------------
# Processed layer (CSV in the reference; columns per
# scripts/process_raw_data/*.py outputs)
# ---------------------------------------------------------------------------

PROCESSED_STREAMS = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("user_id", T.StringType()),
        T.StructField("user_login", T.StringType()),
        T.StructField("user_name", T.StringType()),
        T.StructField("game_id", T.StringType()),
        T.StructField("game_name", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("viewer_count", T.IntegerType()),
        T.StructField("started_at", T.StringType()),
        T.StructField("language", T.StringType()),
        T.StructField("thumbnail_url", T.StringType()),
        T.StructField("is_mature", T.BooleanType()),
    ]
)

PROCESSED_CATEGORIES = T.StructType(
    [
        T.StructField("category_id", T.StringType()),
        T.StructField("category_name", T.StringType()),
        T.StructField("box_art_url", T.StringType()),
        T.StructField("igdb_id", T.StringType()),
    ]
)

PROCESSED_USERS = T.StructType(
    [
        T.StructField("user_id", T.StringType()),
        T.StructField("login_name", T.StringType()),
        T.StructField("user_name", T.StringType()),
        T.StructField("type", T.StringType()),
        T.StructField("broadcaster_type", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("profile_image_url", T.StringType()),
        T.StructField("offline_image_url", T.StringType()),
        T.StructField("created_at", T.StringType()),
    ]
)

# ---------------------------------------------------------------------------
# Curated layer / warehouse star schema
# (scripts/sql_code/twitch_stream_db_schema.sql)
# ---------------------------------------------------------------------------

CURATED_STREAMS = T.StructType(
    [
        T.StructField("stream_id", T.StringType()),
        T.StructField("day_date_id", T.StringType()),
        T.StructField("time_of_day_id", T.StringType()),
        T.StructField("user_id", T.StringType()),
        T.StructField("category_id", T.StringType()),
        T.StructField("language_id", T.StringType()),
        T.StructField("viewer_count", T.IntegerType()),
        T.StructField("hours_watched", T.DoubleType()),
    ]
)

CURATED_CATEGORIES = T.StructType(
    [
        T.StructField("category_id", T.StringType()),
        T.StructField("category_name", T.StringType()),
        T.StructField("igdb_id", T.StringType()),
    ]
)

CURATED_USERS = T.StructType(
    [
        T.StructField("user_id", T.StringType()),
        T.StructField("user_name", T.StringType()),
        T.StructField("login_name", T.StringType()),
        T.StructField("broadcaster_type", T.StringType()),
    ]
)

CURATED_GENRE_BRIDGE = T.StructType(
    [
        T.StructField("category_id", T.StringType()),
        T.StructField("genre_id", T.StringType()),
    ]
)

CURATED_GAME_MODE_BRIDGE = T.StructType(
    [
        T.StructField("category_id", T.StringType()),
        T.StructField("game_mode_id", T.StringType()),
    ]
)

LANGUAGES = T.StructType(
    [
        T.StructField("language_id", T.StringType()),
        T.StructField("language", T.StringType()),
    ]
)

GENRES = T.StructType(
    [
        T.StructField("genre_id", T.StringType()),
        T.StructField("genre_name", T.StringType()),
    ]
)

GAME_MODES = T.StructType(
    [
        T.StructField("game_mode_id", T.StringType()),
        T.StructField("game_mode_name", T.StringType()),
    ]
)

"""Independent output checks: DuckDB reads the raw JSON files and the
parquet the package wrote, and the two sides are compared.

Each check compares, per 15-minute slot where a layer is per slot, the
row count and an order-independent hash (the sum of a per-row hash of
the row's text form). Both sides are hashed by DuckDB, so the hash is
the same function on both. Nothing here calls the package.
"""

from __future__ import annotations

import os

import duckdb

from fixture import RAW_DIRS

_STREAM_FIELDS = (
    "id VARCHAR, user_id VARCHAR, game_id VARCHAR, language VARCHAR, viewer_count BIGINT"
)
CURATED_STREAM_COLS = (
    "stream_id", "day_date_id", "time_of_day_id", "user_id", "category_id",
    "language_id", "viewer_count", "hours_watched",
)


def _raw(root: str, dataset: str, fields: str) -> str:
    """Rows of (day_date_id, time_of_day_id, r) with r one raw record."""
    path = os.path.join(root, RAW_DIRS[dataset], "*", "*.json")
    return (
        f"(SELECT day_date_id, time_of_day_id, unnest(data) AS r FROM read_json("
        f"'{path}', format='auto', columns={{'day_date_id': 'VARCHAR', "
        f"'time_of_day_id': 'VARCHAR', 'data': 'STRUCT({fields})[]'}}))"
    )


def _lake(path: str) -> str:
    return (f"read_parquet('{path}/**/*.parquet', hive_partitioning=1, "
            f"hive_types_autocast=0)")


def expected_curated_streams(raw_root: str) -> str:
    """SQL for the curated streams fact the raw streams files imply."""
    return f"""
        SELECT DISTINCT r.id AS stream_id, day_date_id, time_of_day_id, r.user_id,
               r.game_id AS category_id,
               CASE WHEN r.language = '' THEN 'notavailable' ELSE r.language END
                   AS language_id,
               r.viewer_count, r.viewer_count * CAST(0.25 AS DOUBLE) AS hours_watched
        FROM {_raw(raw_root, 'streams', _STREAM_FIELDS)}
        WHERE TRY_CAST(r.id AS BIGINT) IS NOT NULL
          AND TRY_CAST(r.user_id AS BIGINT) IS NOT NULL"""


def _digest(con, sql: str, cols: tuple[str, ...], by: tuple[str, ...] = ()) -> dict:
    """{group key: (rows, hash)} of a relation, grouped by ``by``."""
    text = " || '|' || ".join(f"coalesce(CAST({c} AS VARCHAR), '<null>')" for c in cols)
    keys = ", ".join(by)
    select = f"{keys}, " if by else ""
    group = f"GROUP BY {keys}" if by else ""
    rows = con.execute(
        f"SELECT {select}count(*), CAST(sum(hash({text})) AS VARCHAR) FROM ({sql}) {group}"
    ).fetchall()
    return {tuple(r[:-2]): tuple(r[-2:]) for r in rows}


def _compare(name: str, expected: dict, actual: dict) -> list[str]:
    """One message per group whose count or hash differs."""
    return [
        f"{name} {k}: expected {expected.get(k)} got {actual.get(k)}"
        for k in sorted(set(expected) | set(actual))
        if expected.get(k) != actual.get(k)
    ]


def check_streams(raw_root: str, lake: str, corrupt: bool = False) -> list[str]:
    """Curated streams in ``lake`` vs the raw files, slot by slot.

    ``corrupt=True`` changes one output row before hashing: the negative
    control, which must report exactly one mismatching slot.
    """
    con = duckdb.connect()
    actual = f"SELECT {', '.join(CURATED_STREAM_COLS)} FROM {_lake(lake)}"
    if corrupt:
        actual = f"""SELECT stream_id, day_date_id, time_of_day_id, user_id,
            category_id, language_id,
            viewer_count + CASE WHEN rn = 1 THEN 1 ELSE 0 END AS viewer_count,
            hours_watched
            FROM (SELECT *, row_number() OVER (ORDER BY day_date_id, time_of_day_id,
                  stream_id) AS rn FROM ({actual}))"""
    by = ("day_date_id", "time_of_day_id")
    return _compare(
        "curated_streams",
        _digest(con, expected_curated_streams(raw_root), CURATED_STREAM_COLS, by),
        _digest(con, actual, CURATED_STREAM_COLS, by),
    )


def check_medallion(raw_root: str, lake: str, state: dict[str, str]) -> list[str]:
    """Every layer the slot chain writes vs the raw files it landed."""
    con = duckdb.connect()
    by = ("day_date_id", "time_of_day_id")
    errors = check_streams(raw_root, os.path.join(lake, "curated", "streams"))

    users = f"""
        SELECT r.id AS user_id, r.display_name AS user_name, r.login AS login_name,
               coalesce(nullif(r.broadcaster_type, ''), 'normal') AS broadcaster_type
        FROM {_raw(raw_root, 'users', 'id VARCHAR, login VARCHAR, display_name VARCHAR, broadcaster_type VARCHAR')}
        QUALIFY row_number() OVER (PARTITION BY r.id ORDER BY day_date_id, time_of_day_id) = 1"""
    categories = f"""
        SELECT DISTINCT r.id AS category_id, r.name AS category_name,
               coalesce(nullif(r.igdb_id, ''), 'NA') AS igdb_id
        FROM {_raw(raw_root, 'categories', 'id VARCHAR, name VARCHAR, igdb_id VARCHAR')}"""
    for name, sql, cols in (
        ("users", users, ("user_id", "user_name", "login_name", "broadcaster_type")),
        ("categories", categories, ("category_id", "category_name", "igdb_id")),
    ):
        want = _digest(con, sql, cols)
        # the new state, and the union of every slot's delta, both equal it
        errors += _compare(f"{name}_state", want, _digest(
            con, f"SELECT * FROM read_parquet('{state[name]}/*.parquet')", cols))
        errors += _compare(f"{name}_deltas", want, _digest(
            con, f"SELECT * FROM {_lake(os.path.join(lake, 'curated', name))}", cols))

    cats = f"""SELECT day_date_id AS d, time_of_day_id AS t, r.id AS category_id, r.igdb_id
               FROM {_raw(raw_root, 'categories', 'id VARCHAR, igdb_id VARCHAR')}"""
    for dataset, arr, col in (("genre_bridge", "genres", "genre_id"),
                              ("game_mode_bridge", "game_modes", "game_mode_id")):
        want = f"""
            SELECT DISTINCT b.day_date_id, b.time_of_day_id, c.category_id, b.{col}
            FROM (SELECT day_date_id, time_of_day_id, CAST(r.id AS VARCHAR) AS igdb_id,
                         unnest(r.{arr}) AS {col}
                  FROM {_raw(raw_root, dataset, f'id BIGINT, {arr} BIGINT[]')}) b
            JOIN ({cats}) c ON c.d = b.day_date_id AND c.t = b.time_of_day_id
                           AND c.igdb_id = b.igdb_id"""
        got = f"SELECT * FROM {_lake(os.path.join(lake, 'curated', dataset))}"
        cols = ("category_id", col)
        errors += _compare(dataset, _digest(con, want, cols, by), _digest(con, got, cols, by))
    return errors


DASHBOARD_ORACLE = {
    "hours_watched_by_category": """
        SELECT c.category_name, CAST(SUM(f.hours_watched) AS DOUBLE),
               CAST(SUM(f.viewer_count) AS BIGINT)
        FROM fact f JOIN categories c ON f.category_id = c.category_id
        GROUP BY c.category_name ORDER BY 2 DESC, 1""",
    "unique_streamers_by_day": """
        SELECT CAST(strptime(day_date_id, '%Y%m%d') AS DATE) AS d,
               dayname(CAST(strptime(day_date_id, '%Y%m%d') AS DATE)),
               COUNT(DISTINCT user_id)
        FROM fact GROUP BY 1, 2 ORDER BY 1""",
    "viewers_by_hour": """
        SELECT CAST(substr(time_of_day_id, 1, 2) AS INTEGER) AS h,
               CAST(SUM(viewer_count) AS BIGINT), COUNT(DISTINCT category_id)
        FROM fact GROUP BY 1 ORDER BY 1""",
}


def normalize(rows) -> list[tuple]:
    """Rows as tuples of text, so Spark and DuckDB values compare."""
    return [tuple(str(v) for v in row) for row in rows]


def dashboard_expected(fact_path: str, categories_path: str) -> dict[str, list[tuple]]:
    """Each tile's rows, computed by DuckDB over the written parquet."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW fact AS SELECT * FROM {_lake(fact_path)}")
    con.execute(f"CREATE VIEW categories AS SELECT * FROM {_lake(categories_path)}")
    return {k: normalize(con.execute(q).fetchall()) for k, q in DASHBOARD_ORACLE.items()}

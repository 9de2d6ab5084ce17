"""The curated star as SQL views, and the dashboard queries over it.

:func:`register_curated_star` names the curated streams fact and its
dimensions as temp views; :data:`DASHBOARD_SQL` holds the dashboard
tiles the reference serves from that star, and :func:`dashboard_query`
runs one of them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


#: The dashboard layer's headline queries (SURVEY.md §2.5; the
#: reference's README.md:6-9 serves the curated star to QuickSight) —
#: plain ANSI SQL over the curated views that
#: :func:`register_curated_star` names, exactly as a BI tool would
#: issue them. These are the queries the star schema exists to serve:
#: every one is a broadcast-dim join plus one fact-sized aggregate, so
#: at 100 TB each reads only its few columns (parquet pruning) and
#: shuffles only the post-aggregate group rows. Documented in
#: README.md and pinned by tests.
DASHBOARD_SQL: dict[str, str] = {
    # headline tile: total watch-time by category
    "hours_watched_by_category": """
        SELECT c.category_name,
               CAST(SUM(f.hours_watched) AS double)   AS hours_watched,
               CAST(SUM(f.viewer_count)  AS bigint)   AS viewers
        FROM curated_streams f
        JOIN categories c ON f.category_id = c.category_id
        GROUP BY c.category_name
        ORDER BY hours_watched DESC, c.category_name
    """,
    # audience reach: distinct broadcasters per calendar day
    "unique_streamers_by_day": """
        SELECT d.the_date,
               d.day_of_week,
               COUNT(DISTINCT f.user_id) AS unique_streamers
        FROM curated_streams f
        JOIN day_dates d ON f.day_date_id = d.day_date_id
        GROUP BY d.the_date, d.day_of_week
        ORDER BY d.the_date
    """,
    # intraday shape: viewership by hour of day
    "viewers_by_hour": """
        SELECT t.hour,
               CAST(SUM(f.viewer_count) AS bigint) AS viewers,
               COUNT(DISTINCT f.category_id)       AS live_categories
        FROM curated_streams f
        JOIN time_of_day t ON f.time_of_day_id = t.time_of_day_id
        GROUP BY t.hour
        ORDER BY t.hour
    """,
}


def register_curated_star(
    spark: SparkSession,
    curated_streams: DataFrame,
    categories: DataFrame,
    day_dates: DataFrame,
    time_of_day: DataFrame,
) -> None:
    """Name the curated star for SQL: the streams fact plus the three
    dimensions :data:`DASHBOARD_SQL` joins (categories from the upsert
    cascade, the generated calendar/time-of-day dims). After this,
    every dashboard-style query is one ``spark.sql`` call."""
    curated_streams.createOrReplaceTempView("curated_streams")
    categories.createOrReplaceTempView("categories")
    day_dates.createOrReplaceTempView("day_dates")
    time_of_day.createOrReplaceTempView("time_of_day")


def dashboard_query(spark: SparkSession, name: str) -> DataFrame:
    """Run one of :data:`DASHBOARD_SQL` against the registered views."""
    return spark.sql(DASHBOARD_SQL[name])

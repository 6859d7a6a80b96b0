"""The paper's MotoGP integration DAG over the real reference inputs."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lsdm_motogp_data_integration_spark.queries.registry import query


# SQL replay of the MotoGP pipeline over the REAL reference CSVs
# (pipelines/motogp/{results,teams,standings,participation}.py): DuckDB
# reads the same files with the same declared schemas, rebuilds the
# md5-hash-deterministic synthetic fact, and replays every join/filter/
# aggregate — independent verification of the ktr-parity DAG
# (motogp.ktr:2021→8426), far stronger than self-generated golden
# fingerprints.
_REF = "/root/reference"
_MOTOGP_CORE_SQL = f"""
            teams_raw AS (
                -- numeric fields TRY_CAST from text: Spark's PERMISSIVE
                -- csv mode nulls a malformed field (e.g. '13[1]' grid
                -- positions) instead of failing the scan
                SELECT TRY_CAST(id AS BIGINT) AS id, name, country
                FROM read_csv(
                    '{_REF}/MotoGP_Results&Bikes/teams.csv', header=true,
                    columns={{'id':'VARCHAR','name':'VARCHAR','country':'VARCHAR'}})
            ), bikes_raw AS (
                SELECT TRY_CAST(id AS BIGINT) AS id, name, country
                FROM read_csv(
                    '{_REF}/MotoGP_Results&Bikes/bikes.csv', header=true,
                    columns={{'id':'VARCHAR','name':'VARCHAR','country':'VARCHAR'}})
            ), riders_raw AS (
                SELECT TRY_CAST(id AS BIGINT) AS id, first_name, last_name,
                       country, TRY_CAST(number AS DECIMAL(5,1)) AS number
                FROM read_csv(
                    '{_REF}/MotoGP_Results&Bikes/riders.csv', header=true,
                    columns={{'id':'VARCHAR','first_name':'VARCHAR',
                             'last_name':'VARCHAR','country':'VARCHAR',
                             'number':'VARCHAR'}})
            ), quali AS (
                SELECT TRY_CAST("Year" AS BIGINT) AS "Year", "Circuit",
                       "OfficialName", "Class", "RiderName",
                       TRY_CAST("Position" AS BIGINT) AS "Position"
                FROM read_csv(
                    '{_REF}/scraping/motogp_griglia.csv', header=true,
                    columns={{'Year':'VARCHAR','Circuit':'VARCHAR',
                             'OfficialName':'VARCHAR','Class':'VARCHAR',
                             'RiderName':'VARCHAR','Position':'VARCHAR'}})
            ), nt AS (SELECT COUNT(*) AS n FROM teams_raw),
            nb AS (SELECT COUNT(*) AS n FROM bikes_raw),
            base AS (
                SELECT "Year" AS year, "Class" AS category,
                       dense_rank() OVER (
                           PARTITION BY "Year" ORDER BY "OfficialName"
                       ) AS sequence,
                       "OfficialName" AS shortname,
                       "OfficialName" AS circuit_name,
                       "RiderName" AS rider_name_plain,
                       "Position" AS position
                FROM quali
            ), hashed AS (
                SELECT *,
                       CAST(('0x' || substr(md5(concat_ws('|',
                           rider_name_plain, CAST(year AS VARCHAR),
                           shortname)), 1, 15)) AS BIGINT) AS h,
                       CAST(('0x' || substr(md5(concat_ws('|', 'bike',
                           rider_name_plain, CAST(year AS VARCHAR),
                           shortname)), 1, 15)) AS BIGINT) AS hb
                FROM base
            ), master_names AS (
                SELECT upper(concat_ws(' ', first_name, last_name))
                           AS join_name,
                       MIN(id) AS rider
                FROM riders_raw GROUP BY 1
            ), team_idx AS (
                SELECT (id % (SELECT n FROM nt)) AS tidx,
                       min_by(name, id) AS team_name
                FROM teams_raw GROUP BY 1
            ), bike_idx AS (
                SELECT (id % (SELECT n FROM nb)) AS bidx,
                       min_by(name, id) AS bike_name
                FROM bikes_raw GROUP BY 1
            ), with_ids AS (
                SELECT hashed.*,
                       COALESCE(m.rider, -1) AS rider,
                       (h % (SELECT n FROM nt)) AS tidx,
                       (hb % (SELECT n FROM nb)) AS bidx
                FROM hashed LEFT JOIN master_names m
                  ON upper(rider_name_plain) = m.join_name
            ), race_results AS (
                SELECT w.year, w.category, w.sequence, w.shortname,
                       w.circuit_name, w.rider,
                       regexp_replace(rider_name_plain,
                                      '^(\\S+)\\s+', '\\1, ') AS rider_name,
                       CASE WHEN (w.h % 100) = 0 THEN '__phantom team__'
                            ELSE t.team_name END AS team_name,
                       b.bike_name,
                       CAST(w.position AS BIGINT) AS position,
                       CASE w.position
                            WHEN 1 THEN 25.0 WHEN 2 THEN 20.0
                            WHEN 3 THEN 16.0 WHEN 4 THEN 13.0
                            WHEN 5 THEN 11.0 WHEN 6 THEN 10.0
                            WHEN 7 THEN 9.0 WHEN 8 THEN 8.0
                            WHEN 9 THEN 7.0 WHEN 10 THEN 6.0
                            WHEN 11 THEN 5.0 WHEN 12 THEN 4.0
                            WHEN 13 THEN 3.0 WHEN 14 THEN 2.0
                            WHEN 15 THEN 1.0 ELSE 0.0 END AS points,
                       CAST((w.h % 99) + 1 AS DECIMAL(5,1)) AS number,
                       CAST(NULL AS VARCHAR) AS country,
                       CAST((w.h % 800) / 10 + 120 AS DECIMAL(6,1)) AS speed,
                       '+' || CAST(w.h % 90 AS VARCHAR) || '.' ||
                           CAST(w.h % 999 AS VARCHAR) AS "time"
                FROM with_ids w
                LEFT JOIN team_idx t ON w.tidx = t.tidx
                LEFT JOIN bike_idx b ON w.bidx = b.bidx
            ), teams_dim AS (
                SELECT name AS team_name,
                       CAST(ROW_NUMBER() OVER (ORDER BY id) AS BIGINT)
                           AS team_id
                FROM teams_raw
            ), teams_min AS (
                SELECT team_name, MIN(team_id) AS team_id
                FROM teams_dim GROUP BY 1
            ), bikes_dim AS (
                SELECT name AS bike_name, MIN(id) AS bike_id
                FROM bikes_raw WHERE id != 234 GROUP BY 1
            ), results_enriched AS (
                SELECT r.*, bd.bike_id, tm.team_id
                FROM race_results r
                JOIN bikes_dim bd USING (bike_name)
                JOIN teams_min tm USING (team_name)
                WHERE r.year >= 2005
            )
"""


@query(
    oracle=f"""
            WITH {_MOTOGP_CORE_SQL},
            wc AS (
                SELECT DISTINCT "Season" AS year,
                       regexp_replace("Class", '(™|â„¢)', '', 'g')
                           AS category
                FROM read_csv(
                    '{_REF}/archive 1/constructure-world-championship.csv',
                    header=true,
                    columns={{'Season':'BIGINT','Constructor':'VARCHAR',
                             'Class':'VARCHAR'}})
            ), in_wc AS (
                SELECT e.year, e.category, e.team_name, e.points
                FROM results_enriched e
                JOIN wc ON e.year = wc.year AND e.category = wc.category
            ), totals AS (
                SELECT year, category, team_name,
                       CAST(SUM(CAST(points AS DECIMAL(18,6))) AS DOUBLE)
                           AS total_points
                FROM in_wc GROUP BY 1, 2, 3
            ), ranked AS (
                SELECT *,
                       CAST(ROW_NUMBER() OVER (
                           PARTITION BY year, category
                           ORDER BY total_points DESC, team_name ASC
                       ) AS BIGINT) AS final_position
                FROM totals
            )
            SELECT year, category, team_name, total_points,
                   final_position, team_id
            FROM ranked JOIN teams_min USING (team_name)
        """,
)
def q44_motogp_standings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full MotoGP team-standings pipeline over the REAL reference
    datasets (ignores sf_dir): constructors-WC join → trademark strip →
    decimal-exact points sum → row_number rank → teams join
    (pipelines/motogp). The DuckDB oracle re-reads the reference
    CSVs/JSONs directly (f-string paths — no oracle views needed) and
    replays the whole DAG; invariants are additionally pinned in
    tests/test_motogp_pipelines.py and golden fingerprints."""
    from lsdm_motogp_data_integration_spark.pipelines.motogp import runner

    return runner.build_all(spark, base_dir="/root/reference")[
        "team_standings"
    ]


@query(
    oracle=f"""
            WITH {_MOTOGP_CORE_SQL},
            races_j AS (
                SELECT TRY_CAST("Anno" AS BIGINT) AS year,
                       TRY_CAST("Data" AS DATE) AS date,
                       lower(trim("Circuito")) AS circuit_name3
                FROM read_json('{_REF}/scraping/motogp_gran_premi.json',
                    format='array',
                    columns={{'Anno':'VARCHAR','Data':'VARCHAR',
                             'Circuito':'VARCHAR'}})
            ), weather_j AS (
                SELECT TRY_CAST("Data" AS DATE) AS date,
                       "Circuito" AS weather_place
                FROM read_json(
                    '{_REF}/scraping/race_weather_data_final.json',
                    format='array',
                    columns={{'Data':'VARCHAR','Circuito':'VARCHAR'}})
            ), race_rows AS (
                SELECT r.date, r.circuit_name3, w.weather_place
                FROM races_j r JOIN weather_j w ON r.date = w.date
            ), race_ranked AS (
                SELECT circuit_name3,
                       CAST(ROW_NUMBER() OVER (
                           ORDER BY date, circuit_name3, weather_place
                       ) AS BIGINT) AS id_race
                FROM race_rows
            ), race_lookup AS (
                SELECT circuit_name3 AS race_circuit_name,
                       MIN(id_race) AS id_race
                FROM race_ranked GROUP BY 1
            ), rider_keys AS (
                SELECT id AS rider,
                       CAST(ROW_NUMBER() OVER (ORDER BY id) AS BIGINT)
                           AS id_rider_seq
                FROM riders_raw
            ), named AS (
                SELECT *,
                       upper(regexp_replace(trim(concat_ws(' ',
                           trim(string_split(rider_name, ',')[1]),
                           trim(string_split(rider_name, ',')[-1]))),
                           '\\s+', ' ', 'g')) AS rider_name_norm
                FROM results_enriched
                WHERE category = 'MotoGP'
            ), grid AS (
                SELECT "Year" AS year, "OfficialName" AS circuit_name,
                       upper(regexp_replace(trim("RiderName"),
                           '\\s+', ' ', 'g')) AS rider_name_norm,
                       MIN("Position") AS grid_position
                FROM quali GROUP BY 1, 2, 3
            ), with_grid AS (
                SELECT n.*, g.grid_position
                FROM named n LEFT JOIN grid g
                  ON n.year = g.year AND n.circuit_name = g.circuit_name
                 AND n.rider_name_norm = g.rider_name_norm
            ), with_rider AS (
                SELECT w.*, rk.id_rider_seq
                FROM with_grid w JOIN rider_keys rk USING (rider)
            ), probe_names AS (
                SELECT DISTINCT circuit_name FROM with_rider
            ), scored AS (
                SELECT p.circuit_name, r.race_circuit_name, r.id_race,
                       jaro_winkler_similarity(
                           lower(trim(p.circuit_name)),
                           lower(trim(r.race_circuit_name))
                       ) AS corrispondenza
                FROM probe_names p CROSS JOIN race_lookup r
            ), best AS (
                SELECT circuit_name, id_race, corrispondenza FROM (
                    SELECT *, ROW_NUMBER() OVER (
                        PARTITION BY circuit_name
                        ORDER BY corrispondenza DESC, race_circuit_name ASC
                    ) AS rn
                    FROM scored
                ) WHERE rn = 1
            )
            SELECT w.year, w.category, w.shortname AS race_name,
                   w.circuit_name, w.id_rider_seq, w.position,
                   CAST(w.points AS DOUBLE) AS points,
                   CAST(w.number AS DOUBLE) AS number,
                   w.country,
                   CAST(w.speed AS DOUBLE) AS speed,
                   w."time",
                   CAST(w.sequence AS BIGINT) AS race_id,
                   w.bike_id, w.team_id,
                   w.rider_name_norm AS rider_name,
                   b.corrispondenza, b.id_race, w.grid_position
            FROM with_rider w
            LEFT JOIN best b ON w.circuit_name = b.circuit_name
        """,
)
def q45_motogp_participation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MotoGP participation fact over the real reference data:
    category filter, name normalization, quali left-join, rider-key
    join, fuzzy id_race recovery (DuckDB ``jaro_winkler_similarity`` is
    bit-identical to the engine's JW — tests/test_similarity.py). The
    DuckDB oracle replays the whole DAG from the reference CSVs/JSONs.
    decimal(5,1)/(6,1) columns are re-cast to double in the QUERY (not
    the pipeline) for driver-hash representation stability — the q02
    lesson."""
    from lsdm_motogp_data_integration_spark.pipelines.motogp import runner

    t = runner.build_all(spark, base_dir="/root/reference")["participation"]
    return (
        t.withColumn("number", F.col("number").cast("double"))
        .withColumn("speed", F.col("speed").cast("double"))
        # dense_rank is int-typed in Spark, BIGINT in DuckDB
        .withColumn("race_id", F.col("race_id").cast("bigint"))
    )

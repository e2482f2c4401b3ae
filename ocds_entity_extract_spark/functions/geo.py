"""Geographic lookup dims + area-hierarchy construction.

The reference hard-codes two giant switches — country-code -> Spanish name
(reference extract.js:1384-1467, ~80 arms) and MX state name -> ISO-3166-2
code incl. alias spellings (reference extract.js:1002-1100, 991-1000).
Spark-first these are literal BROADCAST dimension tables + joins: Catalyst
constant-folds nothing here a switch would win, and a dim join keeps the
mapping data, not code (SURVEY.md §2.7 F7/F8/F9).

Data below is re-derived from public ISO-3166 (not copied from the
reference): a representative subset of Spanish country names + the full 32
MX states with common alias spellings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ocds_entity_extract_spark.functions.text import launder, simple_name
from ocds_entity_extract_spark.session import local_frame

# (iso2, spanish name) — ISO-3166 at reference parity (~80+ entries, ≙ the
# reference's getCountryName switch arms, extract.js:1384-1467; re-derived
# from public ISO-3166 data, es-MX usage)
COUNTRIES: list[tuple[str, str]] = [
    ("MX", "México"), ("US", "Estados Unidos"), ("GT", "Guatemala"),
    ("BZ", "Belice"), ("HN", "Honduras"), ("SV", "El Salvador"),
    ("NI", "Nicaragua"), ("CR", "Costa Rica"), ("PA", "Panamá"),
    ("CO", "Colombia"), ("VE", "Venezuela"), ("EC", "Ecuador"),
    ("PE", "Perú"), ("BR", "Brasil"), ("BO", "Bolivia"), ("PY", "Paraguay"),
    ("UY", "Uruguay"), ("AR", "Argentina"), ("CL", "Chile"), ("CU", "Cuba"),
    ("DO", "República Dominicana"), ("ES", "España"), ("FR", "Francia"),
    ("DE", "Alemania"), ("IT", "Italia"), ("GB", "Reino Unido"),
    ("PT", "Portugal"), ("NL", "Países Bajos"), ("BE", "Bélgica"),
    ("CH", "Suiza"), ("AT", "Austria"), ("SE", "Suecia"), ("NO", "Noruega"),
    ("DK", "Dinamarca"), ("FI", "Finlandia"), ("PL", "Polonia"),
    ("RU", "Rusia"), ("CN", "China"), ("JP", "Japón"), ("KR", "Corea del Sur"),
    ("IN", "India"), ("AU", "Australia"), ("NZ", "Nueva Zelanda"),
    ("CA", "Canadá"), ("ZA", "Sudáfrica"), ("EG", "Egipto"),
    ("TR", "Turquía"), ("GR", "Grecia"), ("IE", "Irlanda"), ("IL", "Israel"),
    ("AF", "Afganistán"), ("SA", "Arabia Saudita"), ("DZ", "Argelia"),
    ("BD", "Bangladés"), ("BY", "Bielorrusia"), ("BG", "Bulgaria"),
    ("KH", "Camboya"), ("QA", "Catar"), ("CZ", "República Checa"),
    ("CY", "Chipre"), ("HR", "Croacia"), ("AE", "Emiratos Árabes Unidos"),
    ("SK", "Eslovaquia"), ("SI", "Eslovenia"), ("EE", "Estonia"),
    ("ET", "Etiopía"), ("PH", "Filipinas"), ("GH", "Ghana"), ("HT", "Haití"),
    ("HU", "Hungría"), ("ID", "Indonesia"), ("IQ", "Irak"), ("IR", "Irán"),
    ("IS", "Islandia"), ("JM", "Jamaica"), ("JO", "Jordania"),
    ("KE", "Kenia"), ("KW", "Kuwait"), ("LV", "Letonia"), ("LB", "Líbano"),
    ("LT", "Lituania"), ("LU", "Luxemburgo"), ("MY", "Malasia"),
    ("MT", "Malta"), ("MA", "Marruecos"), ("MC", "Mónaco"), ("NG", "Nigeria"),
    ("PK", "Pakistán"), ("PR", "Puerto Rico"), ("RO", "Rumania"),
    ("SN", "Senegal"), ("RS", "Serbia"), ("SG", "Singapur"), ("SY", "Siria"),
    ("LK", "Sri Lanka"), ("TH", "Tailandia"), ("TW", "Taiwán"),
    ("TN", "Túnez"), ("UA", "Ucrania"), ("VN", "Vietnam"), ("AM", "Armenia"),
    ("GE", "Georgia"), ("MD", "Moldavia"), ("AL", "Albania"),
]

# (canonical name, iso code); aliases reference the canonical name
MX_STATES: list[tuple[str, str]] = [
    ("Aguascalientes", "MX-AGU"), ("Baja California", "MX-BCN"),
    ("Baja California Sur", "MX-BCS"), ("Campeche", "MX-CAM"),
    ("Coahuila", "MX-COA"), ("Colima", "MX-COL"), ("Chiapas", "MX-CHP"),
    ("Chihuahua", "MX-CHH"), ("Ciudad de México", "MX-CMX"),
    ("Durango", "MX-DUR"), ("Guanajuato", "MX-GUA"), ("Guerrero", "MX-GRO"),
    ("Hidalgo", "MX-HID"), ("Jalisco", "MX-JAL"),
    ("Estado de México", "MX-MEX"), ("Michoacán", "MX-MIC"),
    ("Morelos", "MX-MOR"), ("Nayarit", "MX-NAY"), ("Nuevo León", "MX-NLE"),
    ("Oaxaca", "MX-OAX"), ("Puebla", "MX-PUE"), ("Querétaro", "MX-QUE"),
    ("Quintana Roo", "MX-ROO"), ("San Luis Potosí", "MX-SLP"),
    ("Sinaloa", "MX-SIN"), ("Sonora", "MX-SON"), ("Tabasco", "MX-TAB"),
    ("Tamaulipas", "MX-TAM"), ("Tlaxcala", "MX-TLA"), ("Veracruz", "MX-VER"),
    ("Yucatán", "MX-YUC"), ("Zacatecas", "MX-ZAC"),
]

# alias spelling -> canonical (≙ getOtherStateNames fallthrough variants)
MX_STATE_ALIASES: list[tuple[str, str]] = [
    ("Coahuila de Zaragoza", "Coahuila"),
    ("México", "Estado de México"),
    ("Michoacán de Ocampo", "Michoacán"),
    ("Veracruz de Ignacio de la Llave", "Veracruz"),
    ("Distrito Federal", "Ciudad de México"),
    ("CDMX", "Ciudad de México"),
]


# (state name or alias spelling, iso code): the canonical states first,
# then every alias carrying its canonical state's code
MX_STATE_ROWS: list[tuple[str, str]] = MX_STATES + [
    (alias, dict(MX_STATES)[canon]) for alias, canon in MX_STATE_ALIASES
]


def country_dim(spark: SparkSession) -> DataFrame:
    """(code, name_es, name_slug) — join on code or slugged name."""
    df = local_frame(spark, COUNTRIES, "code string, name_es string")
    return df.withColumn("name_slug", simple_name("name_es"))


def mx_state_dim(spark: SparkSession) -> DataFrame:
    """(state_name, iso_code, name_slug) over `MX_STATE_ROWS`: one row per
    state and one per alias spelling, so a single broadcast dim replaces
    both reference switches (extract.js:991-1100)."""
    return local_frame(
        spark, MX_STATE_ROWS, "state_name string, iso_code string"
    ).withColumn("name_slug", simple_name(launder("state_name")))


def with_country_code(
    df: DataFrame, spark: SparkSession, name_col: str = "country_name"
) -> DataFrame:
    """laundry.cleanCountry analogue: match by code or normalized name,
    broadcast join (never an 80-arm CASE)."""
    dim = country_dim(spark)
    probe = df.withColumn("_cslug", simple_name(F.col(name_col)))
    joined = probe.join(
        F.broadcast(dim),
        (probe["_cslug"] == dim["name_slug"])
        | (F.upper(F.col(name_col)) == dim["code"]),
        "left",
    )
    return joined.withColumn("country_code", F.col("code")).withColumn(
        "country_name_es", F.col("name_es")
    ).drop("code", "name_es", "name_slug", "_cslug")


def with_state_code(
    df: DataFrame, spark: SparkSession, region_col: str = "region"
) -> DataFrame:
    """getStateID analogue: normalized-name broadcast join; unmatched
    regions fall back to 'MX-' + slug (reference builds ids even for
    unknown spellings)."""
    dim = mx_state_dim(spark)
    probe = df.withColumn("_sslug", simple_name(launder(F.col(region_col))))
    joined = probe.join(
        F.broadcast(dim), probe["_sslug"] == dim["name_slug"], "left"
    )
    return (
        joined.withColumn(
            "state_code",
            F.coalesce(F.col("iso_code"), F.concat(F.lit("MX-"), F.col("_sslug"))),
        )
        .drop("state_name", "iso_code", "name_slug", "_sslug")
    )

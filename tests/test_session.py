"""Session defaults that change what a query computes."""

from __future__ import annotations

from pyspark.sql import functions as F

from clickhouse_batcher_spark.session import (
    CHECKPOINT_FILE_MANAGER,
    FILESYSTEM_CHECKPOINT_MANAGER,
    ICU_CASE_MAPPINGS,
    tune_session,
)

# lower() inputs whose ICU and JVM case mappings could plausibly differ.
CASE_CORPUS = [
    "ΟΔΟΣ ΣΟΦΟΣ",  # Greek: final sigma at word ends
    "ΣΑΣ.",  # final sigma before punctuation
    "Σ",  # a lone capital sigma
    "ὈΔΥΣΣΕΎΣ",  # polytonic Greek
    "ΐ",  # precomposed iota with dialytika and tonos
    "İSTANBUL",  # Turkish dotted capital I
    "DİYARBAKIR ıi",  # dotted and dotless i side by side
    "STRASSE ẞ ß",  # German sharp s, capital and small
    "ǅ ǈ ǋ ǲ Ǆ",  # titlecase digraphs and an uppercase one
    "МОСКВА ЁЛКА Ї",  # Cyrillic
    "ԱՐՄԵՆԻԱ ﬓ և",  # Armenian and its ligatures
    "ÉCOLE Å Ǆ̈",  # combining marks
    "ᏣᎳᎩ",  # Cherokee (lowercase forms added in Unicode 8)
    "K Å Ω",  # Kelvin, Angstrom and Ohm signs
    "Ⅻ Ⓐ",  # Roman numeral and circled letters
]

# Strings whose lowercase differs, with the ICU result. The JVM maps by
# the JDK's Unicode version (Unicode 13 in JDK 17); ICU 77 maps by
# Unicode 16, whose new case pairs the JVM leaves unchanged. SCALE.md
# lists the same strings.
KNOWN_DIFFERENCES = {
    "ꟋꟌ": "ɤꟍ",  # Unicode 16 capital ram's horn, S with diagonal stroke
}


def _lower(spark, strings: list[str], icu: bool) -> list[str]:
    spark.conf.set(ICU_CASE_MAPPINGS, str(icu).lower())
    df = spark.createDataFrame(list(enumerate(strings)), "i INT, s STRING")
    rows = df.repartition(1).select("i", F.lower("s").alias("l")).collect()
    return [r["l"] for r in sorted(rows)]


def test_jvm_case_mapping_matches_icu_on_corpus(spark):
    """The engine runs lower() without ICU (one ICU load per JVM costs
    ~1.3 s); on the corpus above both mappings give the same result."""
    try:
        icu = _lower(spark, CASE_CORPUS, icu=True)
        jvm = _lower(spark, CASE_CORPUS, icu=False)
        diff_icu = _lower(spark, list(KNOWN_DIFFERENCES), icu=True)
        diff_jvm = _lower(spark, list(KNOWN_DIFFERENCES), icu=False)
    finally:
        spark.conf.set(ICU_CASE_MAPPINGS, "false")
    assert jvm == icu
    assert icu[0] == "οδος σοφος"  # final sigma is context-aware
    assert diff_icu == list(KNOWN_DIFFERENCES.values())
    # a JDK on Unicode 16 or later agrees with ICU
    for s, got in zip(KNOWN_DIFFERENCES, diff_jvm):
        assert got in (s, KNOWN_DIFFERENCES[s])


def test_sessions_use_jvm_case_mapping(spark):
    """get_session sessions run with ICU case mapping off, and
    tune_session turns it off on a session that left it at Spark's
    default, as the driver's sessions do."""
    assert spark.conf.get(ICU_CASE_MAPPINGS) == "false"
    try:
        spark.conf.unset(ICU_CASE_MAPPINGS)
        assert spark.conf.get(ICU_CASE_MAPPINGS) == "true"
        tune_session(spark)
        assert spark.conf.get(ICU_CASE_MAPPINGS) == "false"
    finally:
        spark.conf.set(ICU_CASE_MAPPINGS, "false")


def test_sessions_checkpoint_through_the_filesystem_manager(spark, tmp_path):
    """get_session sets the FileSystem checkpoint manager, and Spark
    builds that manager for a checkpoint path under the session's conf.
    The conf is internal to Spark: if an upgrade moves the class, this
    fails instead of streams falling back to the default manager."""
    assert spark.conf.get(CHECKPOINT_FILE_MANAGER) == FILESYSTEM_CHECKPOINT_MANAGER
    jvm = spark._jvm
    jvm.java.lang.Class.forName(FILESYSTEM_CHECKPOINT_MANAGER)  # raises if moved
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path / "ckpt")),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert manager.getClass().getName() == FILESYSTEM_CHECKPOINT_MANAGER


def test_tune_session_sets_checkpoint_manager_only_when_unset(spark):
    custom = "org.example.StoreCheckpointFileManager"
    try:
        spark.conf.unset(CHECKPOINT_FILE_MANAGER)
        assert spark.conf.get(CHECKPOINT_FILE_MANAGER, None) is None
        tune_session(spark)
        assert spark.conf.get(CHECKPOINT_FILE_MANAGER) == FILESYSTEM_CHECKPOINT_MANAGER
        spark.conf.set(CHECKPOINT_FILE_MANAGER, custom)
        tune_session(spark)
        assert spark.conf.get(CHECKPOINT_FILE_MANAGER) == custom
    finally:
        spark.conf.set(CHECKPOINT_FILE_MANAGER, FILESYSTEM_CHECKPOINT_MANAGER)

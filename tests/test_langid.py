

def test_lang_stopword_density_uses_own_pack(spark):
    from pyspark.sql import functions as F

    from soda_core_spark.functions.langid import lang_stopword_density
    from soda_core_spark.functions.text import text_counts

    rows = [
        (1, "the cat sat on the mat", "en"),       # 3/6 en stopwords
        (2, "le chat est sur le tapis", "fr"),     # le le est sur = 4/6
        (3, "le chat est sur le tapis", "en"),     # same text, en pack
        (4, "中文文本", "zh"),     # no pack -> NULL
        (5, "", "en"),                              # empty -> 0.0
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    staged = df.withColumn("__counts", text_counts(F.col("text"))).select(
        "doc_id", lang_stopword_density(F.col("__counts"), F.col("lang")).alias("d")
    )
    got = {r["doc_id"]: r["d"] for r in staged.collect()}
    assert got[1] == round(3 / 6, 6)
    assert got[2] == round(4 / 6, 6)
    assert got[3] == 0.0          # French words score zero on the en pack
    assert got[4] is None
    assert got[5] == 0.0

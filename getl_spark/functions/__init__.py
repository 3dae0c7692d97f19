"""Column-function families: the Spark-side replacements for getl's
utils (DateUtils/StringUtils/GenerationUtils, SURVEY §2.8) plus the
training-data-pipeline operators (text analysis, dedup, similarity
search) that a 100 TB corpus engine needs."""

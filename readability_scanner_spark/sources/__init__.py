from readability_scanner_spark.sources.transcripts import (  # noqa: F401
    TRANSCRIPTS_SCHEMA,
    generate_conversation,
    transcripts_df,
)

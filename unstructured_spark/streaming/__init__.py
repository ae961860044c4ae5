from unstructured_spark.streaming.pipeline import (  # noqa: F401
    main_content_stream,
    partition_stream,
    read_document_stream,
    warc_record_stream,
    write_elements_stream,
)

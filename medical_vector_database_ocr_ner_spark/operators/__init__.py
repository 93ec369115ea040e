from .extraction import (
    DOCUMENT_SCHEMA,
    ENTITY_TYPE,
    extract_documents,
    ner_udf,
    pdf_pages_udf,
)

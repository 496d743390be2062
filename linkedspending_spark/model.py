"""RDF / Data Cube vocabulary and the triple DataFrame schema.

Analog of the reference's ``DataModel.java`` (namespaces at
DataModel.java:26-36, QB terms at :40-72, LS ontology terms at
:119-138, dbo:currency at :141-145) re-expressed as plain constants.
Triples live in DataFrames with the schema below instead of a Jena
in-memory ``Model``; Jena's statement-set semantics (duplicates
collapse, DataModel.java:23-37) become ``dropDuplicates(["s","p","o"])``.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- namespaces (DataModel.java:26-36; environmentVariables.properties:10-11)
PREFIX_INSTANCE = "http://linkedspending.aksw.org/instance/"
PREFIX_ONTOLOGY = "http://linkedspending.aksw.org/ontology/"
#: named-graph URI base: the reference stores each dataset in the graph
#: ``<base><datasetName>`` (Virtuoso.java:30 ``PropertyLoader.graph +
#: datasetName``, upload.properties.dist:7) — GRAPH queries map to the
#: triple table's ``dataset`` partition column through this prefix
PREFIX_GRAPH = "http://linkedspending.aksw.org/"
NS_QB = "http://purl.org/linked-data/cube#"
NS_RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
NS_RDFS = "http://www.w3.org/2000/01/rdf-schema#"
NS_XSD = "http://www.w3.org/2001/XMLSchema#"
NS_OWL = "http://www.w3.org/2002/07/owl#"
NS_DCT = "http://purl.org/dc/terms/"
NS_SDMX_ATTR = "http://purl.org/linked-data/sdmx/2009/attribute#"
NS_DBO = "http://dbpedia.org/ontology/"

# --- QB core (DataModel.java:40-72)
QB_DATASET = NS_QB + "DataSet"
QB_DSD = NS_QB + "DataStructureDefinition"
QB_COMPONENT_SPECIFICATION = NS_QB + "ComponentSpecification"
QB_OBSERVATION = NS_QB + "Observation"
QB_SLICE = NS_QB + "Slice"
QB_DIMENSION_PROPERTY = NS_QB + "DimensionProperty"
QB_MEASURE_PROPERTY = NS_QB + "MeasureProperty"
QB_ATTRIBUTE_PROPERTY = NS_QB + "AttributeProperty"
QB_COMPONENT = NS_QB + "component"
QB_DATASET_PROP = NS_QB + "dataSet"
QB_STRUCTURE = NS_QB + "structure"
QB_DIMENSION = NS_QB + "dimension"
QB_MEASURE = NS_QB + "measure"
QB_ATTRIBUTE = NS_QB + "attribute"
QB_SLICE_PROP = NS_QB + "slice"
QB_OBSERVATION_PROP = NS_QB + "observation"

# --- RDF/RDFS/OWL/DCT
RDF_TYPE = NS_RDF + "type"
RDFS_LABEL = NS_RDFS + "label"
RDFS_COMMENT = NS_RDFS + "comment"
RDFS_RANGE = NS_RDFS + "range"
RDFS_SUBPROPERTY_OF = NS_RDFS + "subPropertyOf"
OWL_SAMEAS = NS_OWL + "sameAs"
OWL_DATATYPE_PROPERTY = NS_OWL + "DatatypeProperty"
OWL_OBJECT_PROPERTY = NS_OWL + "ObjectProperty"
DCT_SOURCE = NS_DCT + "source"
DCT_CREATED = NS_DCT + "created"
DCT_MODIFIED = NS_DCT + "modified"
DCT_IDENTIFIER = NS_DCT + "identifier"

# --- LS ontology (DataModel.java:119-138)
LSO_REF_DATE = PREFIX_ONTOLOGY + "refDate"
LSO_REF_YEAR = PREFIX_ONTOLOGY + "refYear"
LSO_COMPLETENESS = PREFIX_ONTOLOGY + "completeness"
LSO_TRANSFORMATION_VERSION = PREFIX_ONTOLOGY + "transformationVersion"
LSO_UPLOAD_COMPLETE = PREFIX_ONTOLOGY + "uploadComplete"
LSO_SOURCE_CREATED = PREFIX_ONTOLOGY + "sourceCreated"
LSO_SOURCE_MODIFIED = PREFIX_ONTOLOGY + "sourceModified"
LSO_CURRENCY = PREFIX_ONTOLOGY + "currency"

SDMX_REF_AREA = NS_SDMX_ATTR + "refArea"  # DataModel.java:100
DBO_CURRENCY = NS_DBO + "currency"  # DataModel.java:141-145

# fixed component specifications (DataModel.java:119-138; schema/ontology.ttl)
LSO_COUNTRY_COMPONENT = PREFIX_ONTOLOGY + "CountryComponentSpecification"
LSO_DATE_COMPONENT = PREFIX_ONTOLOGY + "DateComponentSpecification"
LSO_YEAR_COMPONENT = PREFIX_ONTOLOGY + "YearComponentSpecification"
LSO_CURRENCY_COMPONENT = PREFIX_ONTOLOGY + "CurrencyComponentSpecification"

# xsd datatypes used by the converter (ConvertWorker.java:437-453,692,710-737)
XSD_INT = NS_XSD + "int"
XSD_FLOAT = NS_XSD + "float"
XSD_DOUBLE = NS_XSD + "double"
XSD_STRING = NS_XSD + "string"
XSD_DATE = NS_XSD + "date"
XSD_DATETIME = NS_XSD + "dateTime"
XSD_GYEAR = NS_XSD + "gYear"
XSD_BOOLEAN = NS_XSD + "boolean"

# current transformation version (UploadWorker.java:30, ConvertWorker.java:59)
TRANSFORMATION_VERSION = 4

# object kinds for the triple schema
KIND_URI = "uri"
KIND_LITERAL = "literal"

# --- the triple DataFrame schema -------------------------------------------
# (s, p, o) plus typing metadata; ``dataset`` is the partition column — the
# analog of one named graph per dataset (Virtuoso.java:25-49).
TRIPLE_FIELDS = [
    T.StructField("s", T.StringType(), False),
    T.StructField("p", T.StringType(), False),
    T.StructField("o", T.StringType(), False),
    T.StructField("o_kind", T.StringType(), False),  # uri | literal
    T.StructField("o_datatype", T.StringType(), True),  # xsd URI or null
    T.StructField("o_lang", T.StringType(), True),  # language tag or null
]
TRIPLE_SCHEMA = T.StructType(TRIPLE_FIELDS)
TRIPLE_SCHEMA_PARTITIONED = T.StructType(
    TRIPLE_FIELDS + [T.StructField("dataset", T.StringType(), False)]
)
